package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` key has a matching `oracleSql` entry (DuckDB SQL over the
  * same parquet tables) unless the operator is not SQL-expressible, in which
  * case the driver records a rows-only check. Column names and rounding are
  * aligned on both sides — the driver hash-compares values after sorting
  * columns by name.
  */
object SparkEntry {

  /** Flagship query (the reference's search endpoint, app.py:124): exact
    * top-k cosine similarity with scores. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    KnnSearch.topK(spark, "/root/testdata/sf0.001", KnnSearch.Cosine)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- vector search (SURVEY §2: reference core) ---
    "knn_cosine" -> ((s, d) => KnnSearch.topK(s, d, KnnSearch.Cosine)),
    "knn_dot" -> ((s, d) => KnnSearch.topK(s, d, KnnSearch.InnerProduct)),
    "knn_l2" -> ((s, d) => KnnSearch.topK(s, d, KnnSearch.Euclidean)),
    "knn_filtered" -> ((s, d) =>
      KnnSearch.topK(s, d, KnnSearch.Cosine,
        filter = Some(org.apache.spark.sql.functions.col("label") === 3))),
    "knn_threshold" -> ((s, d) => KnnSearch.aboveThreshold(s, d, 0.2)),
    "knn_filtered_json" -> ((s, d) => KnnSearch.topKJsonFiltered(s, d)),
    "knn_mmr" -> ((s, d) => KnnSearch.mmrTopK(s, d)),
    "knn_quantized" -> ((s, d) => VectorIndex.quantizedSearch(s, d)),
    "knn_cosine_norm" -> ((s, d) => KnnSearch.topKNormalized(s, d)),
    "knn_batch" -> ((s, d) => KnnSearch.batchTopK(s, d)),
    "vec_normalize" -> ((s, d) => KnnSearch.normalizedStore(s, d)),
    "store_stats" -> ((s, d) => KnnSearch.storeStats(s, d)),
    "rag_context" -> ((s, d) => RagContext.context(s, d)),
    "rag_prompt" -> ((s, d) => RagContext.prompt(s, d)),
    "rag_text" -> ((s, d) => RagContext.contextFromText(s, d)),
    // graded on the deterministic columns (stage list + row counts);
    // `millis` is wall-clock — the full timed frame stays the API
    // (RagContext.searchMetrics), the graded projection drops it so the
    // driver can hash-compare against a replaying oracle
    "search_metrics" -> ((s, d) =>
      RagContext.searchMetrics(s, d).select("stage_ord", "stage", "rows_out")),
    "hybrid_rrf" -> ((s, d) => RagContext.hybridRrf(s, d)),
    "hybrid_rrf_ivf" -> ((s, d) =>
      RagContext.hybridRrf(s, d, vecFromStore = true)),
    // --- relational analytics ---
    "q1_agg" -> ((s, d) => Analytics.q1(s, d)),
    "q3_join" -> ((s, d) => Analytics.q3(s, d)),
    "q5_join" -> ((s, d) => Analytics.q5(s, d)),
    "q9_profit" -> ((s, d) => Analytics.q9(s, d)),
    "q18_big_orders" -> ((s, d) => Analytics.q18(s, d)),
    "topk_per_group" -> ((s, d) => Analytics.topKPerGroup(s, d)),
    "events_window" -> ((s, d) => Analytics.eventsWindow(s, d)),
    "events_sessionize" -> ((s, d) => Analytics.sessionize(s, d)),
    "events_session_window" -> ((s, d) => Analytics.sessionWindow(s, d)),
    "events_props_json" -> ((s, d) => Analytics.eventsPropsJson(s, d)),
    "events_rolling" -> ((s, d) => Analytics.eventsRolling(s, d)),
    "events_asof" -> ((s, d) => Analytics.eventsAsof(s, d)),
    "events_funnel" -> ((s, d) => Analytics.eventsFunnel(s, d)),
    "events_retention" -> ((s, d) => Analytics.eventsRetention(s, d)),
    "events_anomaly" -> ((s, d) => Analytics.eventsAnomaly(s, d)),
    "events_quantiles" -> ((s, d) => Analytics.eventsQuantiles(s, d)),
    // --- text analysis (training-data pipeline) ---
    "text_tokens" -> ((s, d) => TextAnalysis.tokens(s, d)),
    "text_tokens_bpe" -> ((s, d) => TextAnalysis.tokensBpe(s, d)),
    "text_quality" -> ((s, d) => TextAnalysis.quality(s, d)),
    "text_langid" -> ((s, d) => TextAnalysis.langid(s, d)),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    "text_featurize" -> ((s, d) => TextAnalysis.featurize(s, d)),
    "text_search" -> ((s, d) => TextAnalysis.textSearch(s, d)),
    "text_ppl" -> ((s, d) => TextAnalysis.unigramLogProb(s, d)),
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(s, d)),
    "text_pii" -> ((s, d) => TextAnalysis.piiScrub(s, d)),
    "doc_chunk" -> ((s, d) => TextAnalysis.chunk(s, d)),
    "chunk_search" -> ((s, d) => TextAnalysis.chunkSearch(s, d)),
    "chunk_search_ivf" -> ((s, d) => TextStore.chunkSearchIvf(s, d)),
    "add_texts" -> ((s, d) => TextStore.ingestBatch(s, d)),
    "bm25_search" -> ((s, d) => TextAnalysis.bm25(s, d)),
    // --- corpus ops (training-data pipeline: stats / sample / pack) ---
    "corpus_stats" -> ((s, d) => CorpusOps.stats(s, d)),
    "corpus_sample" -> ((s, d) => CorpusOps.sample(s, d)),
    "corpus_split" -> ((s, d) => CorpusOps.splitAssign(s, d)),
    "corpus_pack" -> ((s, d) => CorpusOps.packSequences(s, d)),
    "corpus_decontaminate" -> ((s, d) => Dedup.decontaminate(s, d)),
    "corpus_mix" -> ((s, d) => CorpusOps.mix(s, d)),
    "corpus_vocab" -> ((s, d) => CorpusOps.vocab(s, d)),
    "corpus_bpe_train" -> ((s, d) => CorpusOps.bpeTrain(s, d)),
    "corpus_bpe_tokenize" -> ((s, d) => CorpusOps.bpeTokenize(s, d)),
    "corpus_shuffle" -> ((s, d) => CorpusOps.shuffleAssign(s, d)),
    "corpus_dup_profile" -> ((s, d) => CorpusOps.dupProfile(s, d)),
    // --- deduplication (training-data pipeline) ---
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_ngram_spans" -> ((s, d) => TextAnalysis.dupSpans(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_minhash_lsh_repr" -> ((s, d) => Dedup.minhashLshRepr(s, d)),
    "corpus_neardup_gate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // incoming = a deterministic id-shifted corpus slice (the
      // ingest-time shape with a replayable oracle); the streaming twin
      // runs the SAME implementation over a readStream source
      val incoming = graft.Tables.documents(s, d)
        .where(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      Dedup.nearDupGate(incoming, s, d)
    }),
    "corpus_neardup_gate_repr" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // the scale-safe gate contract: same incoming slice, ONE row per
      // flagged doc (best representative + corpus copy count) instead of
      // one per (incoming, corpus-member) pair
      val incoming = graft.Tables.documents(s, d)
        .where(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      Dedup.nearDupGateRepr(incoming, s, d)
    }),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_simhash_repr" -> ((s, d) => Dedup.simhashRepr(s, d)),
    "dedup_clusters" -> ((s, d) => Dedup.clusterAssign(s, d)),
    "dedup_keep_best" -> ((s, d) => Dedup.keepBest(s, d)),
    "dedup_embedding" -> ((s, d) => Dedup.embeddingNearDup(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => Dedup.embeddingNearDupLsh(s, d)),
    "dedup_embedding_lsh_repr" -> ((s, d) => Dedup.embeddingNearDupLshRepr(s, d)),
    "corpus_embedding_gate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // incoming = a deterministic id-shifted embeddings slice, mirroring
      // corpus_neardup_gate; the streaming twin runs the SAME
      // implementation over a readStream source
      val incoming = graft.Tables.embeddings(s, d)
        .where(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupGate(incoming, s, d)
    }),
    "corpus_embedding_gate_repr" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // representative-level embedding gate over the same incoming slice
      val incoming = graft.Tables.embeddings(s, d)
        .where(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupGateRepr(incoming, s, d)
    }),
    "knn_graph" -> ((s, d) => Dedup.knnGraph(s, d)),
    // --- ANN index structures (rows-only oracles) ---
    "ivf_build" -> ((s, d) => VectorIndex.ivfBuild(s, d)),
    "ivf_search" -> ((s, d) => VectorIndex.corpusSearch(s, d)),
    "knn_filtered_ivf" -> ((s, d) =>
      VectorIndex.corpusSearch(s, d,
        filter = Some(org.apache.spark.sql.functions.col("label") === 3))),
    "knn_filtered_ivf_json" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, get_json_object}
      VectorIndex.corpusSearch(s, d,
        filter = Some(get_json_object(col("metadata"), "$.lang") === "en"))
    }),
    "knn_threshold_ivf" -> ((s, d) => VectorIndex.corpusThreshold(s, d)),
    "knn_threshold_lsh" -> ((s, d) => VectorIndex.corpusThreshold(s, d,
      VectorIndex.LshLayout, nprobe = VectorIndex.LshProbes)),
    "pq_build" -> ((s, d) => VectorIndex.pqBuild(s, d)),
    "knn_pq" -> ((s, d) => VectorIndex.pqSearch(s, d)),
    "knn_ivf_pq" -> ((s, d) => VectorIndex.ivfPqSearchStore(s, d)),
    "knn_mmr_ivf" -> ((s, d) => VectorIndex.corpusMmr(s, d)),
    "knn_mmr_lsh" -> ((s, d) => VectorIndex.corpusMmr(s, d,
      VectorIndex.LshLayout, nprobe = VectorIndex.LshProbes)),
    "knn_batch_ivf" -> ((s, d) => VectorIndex.corpusBatchSearch(s, d)),
    "knn_batch_lsh" -> ((s, d) => VectorIndex.corpusBatchSearch(s, d,
      VectorIndex.LshLayout, nprobe = VectorIndex.LshProbes)),
    "knn_batch_pq" -> ((s, d) => VectorIndex.batchPqSearch(s, d)),
    "knn_batch_ivf_pq" -> ((s, d) => VectorIndex.batchIvfPqSearchStore(s, d)),
    "store_get" -> ((s, d) => VectorIndex.storeGet(s, d)),
    "ann_eval" -> ((s, d) => VectorIndex.annEval(s, d)),
    "store_health" -> ((s, d) => VectorIndex.storeHealthReport(s, d)),
    "ann_eval_lsh" -> ((s, d) => VectorIndex.annEval(s, d,
      VectorIndex.LshLayout, nprobe = VectorIndex.LshProbes)),
    "ann_eval_pq" -> ((s, d) => VectorIndex.annEvalPq(s, d)),
    "ann_eval_ivf_pq" -> ((s, d) => VectorIndex.annEvalIvfPq(s, d)),
    "lsh_bucket" -> ((s, d) => VectorIndex.lshBuckets(s, d)),
    "lsh_search" -> ((s, d) => VectorIndex.corpusSearch(s, d,
      VectorIndex.LshLayout, nprobe = VectorIndex.LshProbes)),
    "lsh_filtered_json" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, get_json_object}
      VectorIndex.corpusSearch(s, d, VectorIndex.LshLayout,
        nprobe = VectorIndex.LshProbes,
        filter = Some(get_json_object(col("metadata"), "$.lang") === "en"))
    }),
    // --- multimodal (stubbed decode, real plumbing) ---
    "mm_meta" -> ((s, d) => Multimodal.meta(s, d)),
    "mm_meta_real" -> ((s, d) => Multimodal.metaReal(s, d)),
    "mm_resize_real" -> ((s, d) => Multimodal.resizeReal(s, d)),
    "mm_dedup" -> ((s, d) => Multimodal.contentDedup(s, d)),
    "mm_frames" -> ((s, d) => Multimodal.frames(s, d)),
    "mm_frames_real" -> ((s, d) => Multimodal.framesReal(s, d)),
    "mm_resize" -> ((s, d) => Multimodal.resize(s, d)),
    // --- composed pipeline ---
    "pipeline_clean" -> ((s, d) => CleanCorpus.clean(s, d)),
    "pipeline_clean_full" -> ((s, d) => CleanCorpus.cleanFull(s, d)),
  )

  /** Deterministic output order for the driver's hash compare — applied by
    * [[Verify]] at dump time on the (small) verify SF, NOT inside the
    * operators. A corpus-sized operator output must not end in a global
    * sort: at 100 TB that is a full range-partition exchange + sort per
    * query that no downstream consumer needs (VERDICT r5 finding 2), so
    * the operators return unordered frames and the ordering contract with
    * each oracle's final ORDER BY lives here. Queries absent from this map
    * order themselves semantically (ranked top-k via TakeOrdered, packed
    * ordering) or are single-row aggregates. */
  val hashOrder: Map[String, Seq[String]] = Map(
    "topk_per_group" -> Seq("o_custkey", "rank"),
    "events_window" -> Seq("window_start", "event_type"),
    "events_sessionize" -> Seq("user_id", "session_id"),
    "events_session_window" -> Seq("user_id", "session_start"),
    "events_rolling" -> Seq("user_id", "ts_us", "event_id"),
    "events_asof" -> Seq("click_id"),
    "events_anomaly" -> Seq("event_id"),
    "text_tokens" -> Seq("doc_id"),
    "text_tokens_bpe" -> Seq("doc_id"),
    "text_quality" -> Seq("doc_id"),
    "text_langid" -> Seq("doc_id"),
    "text_fingerprint" -> Seq("doc_id"),
    "text_repetition" -> Seq("doc_id"),
    "dedup_ngram_spans" -> Seq("doc_id"),
    "text_pii" -> Seq("doc_id"),
    "corpus_dup_profile" -> Seq("copies"),
    "store_get" -> Seq("vec_id"),
    "text_featurize" -> Seq("doc_id", "dim"),
    "text_ppl" -> Seq("doc_id"),
    "doc_chunk" -> Seq("doc_id", "chunk_id"),
    "search_metrics" -> Seq("stage_ord"),
    "add_texts" -> Seq("vec_id", "dim"),
    "corpus_sample" -> Seq("doc_id"),
    "corpus_split" -> Seq("doc_id"),
    "corpus_bpe_tokenize" -> Seq("doc_id"),
    "corpus_pack" -> Seq("lang", "bin"),
    "corpus_decontaminate" -> Seq("doc_id"),
    "corpus_mix" -> Seq("doc_id"),
    "corpus_shuffle" -> Seq("shard", "pos"),
    "dedup_exact" -> Seq("keep_id"),
    "dedup_ngram_jaccard" -> Seq("doc_a", "doc_b"),
    "dedup_minhash_lsh" -> Seq("doc_a", "doc_b"),
    "dedup_minhash_lsh_repr" -> Seq("doc_a", "doc_b"),
    "corpus_neardup_gate" -> Seq("doc_id", "corpus_doc_id"),
    "corpus_neardup_gate_repr" -> Seq("doc_id"),
    "dedup_simhash" -> Seq("doc_a", "doc_b"),
    "dedup_simhash_repr" -> Seq("doc_a", "doc_b"),
    "dedup_clusters" -> Seq("doc_id"),
    "dedup_keep_best" -> Seq("doc_id"),
    "dedup_embedding" -> Seq("id_a", "id_b"),
    "dedup_embedding_lsh" -> Seq("id_a", "id_b"),
    "dedup_embedding_lsh_repr" -> Seq("id_a", "id_b"),
    "corpus_embedding_gate" -> Seq("vec_id", "corpus_vec_id"),
    "corpus_embedding_gate_repr" -> Seq("vec_id"),
    "knn_graph" -> Seq("src", "rank"),
    "ivf_build" -> Seq("vec_id"),
    "pq_build" -> Seq("vec_id", "sub"),
    "vec_normalize" -> Seq("vec_id"),
    "mm_meta" -> Seq("doc_id"),
    "mm_meta_real" -> Seq("doc_id"),
    "mm_resize_real" -> Seq("doc_id"),
    "mm_dedup" -> Seq("doc_id"),
    "mm_frames" -> Seq("doc_id", "frame_idx"),
    "mm_frames_real" -> Seq("doc_id", "frame_idx"),
    "mm_resize" -> Seq("doc_id"),
    "pipeline_clean" -> Seq("doc_id"),
    "pipeline_clean_full" -> Seq("doc_id"),
  )

  /** Shared CTE chain of the text_search oracle (hash → weights → exact
    * integer dot), reused by the rag_text composition. */
  private val textSearchCtes: String =
    """e AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
      |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
      |  FROM e),
      |w AS (
      |  SELECT doc_id, CAST(hv % 64 AS INTEGER) AS dim,
      |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
      |  FROM h GROUP BY 1, 2),
      |q AS (SELECT dim, weight FROM w WHERE doc_id = 0),
      |qn AS (SELECT CAST(sum(weight * weight) AS BIGINT) AS qnorm2 FROM q),
      |s AS (
      |  SELECT w.doc_id,
      |    CAST(sum(CASE WHEN q.weight IS NULL THEN 0 ELSE w.weight * q.weight END) AS BIGINT) AS dot,
      |    CAST(sum(w.weight * w.weight) AS BIGINT) AS norm2
      |  FROM w LEFT JOIN q ON w.dim = q.dim
      |  WHERE w.doc_id <> 0
      |  GROUP BY 1)""".stripMargin

  /** Shared oracle for the LSH-store search queries: replays signature
    * computation, flip-cost multi-probe selection (budget 37 = the
    * hamming≤2 ball of 8 planes), and the pruned exact top-k, from the
    * same deterministic plane constants the store was built with.
    * `extraFilter` composes the metadata predicate (the store's metadata
    * column is built from `documents`, so `d.lang` is the same value
    * get_json_object reads on the Spark side). */
  /** Shared CTE chain replaying the MinHash signature + banding pipeline:
    * the SplitMix64-derived permutation constants as a VALUES table, the
    * Mersenne-61 token/shingle folds, the 128-permutation signature, and
    * the per-band polynomial fold INCLUDING the 2^20 ownership-domain mod
    * (r9). Ends with `sigs(doc_id, sig)` and `bands(doc_id, band, bh)`;
    * consumers (dedup_minhash_lsh, corpus_neardup_gate) append their
    * candidate + verification tail. */
  private def minhashSigCtes: String = {
    val permValues = graft.functions.MinHash.perms
      .map { case (j, a, b) => s"($j, $a, $b)" }
      .mkString(", ")
    s"""perms(j, a, b) AS (VALUES $permValues),
       |ts AS (
       |  SELECT doc_id, string_split_regex(
       |    trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), ' ') AS s
       |  FROM documents
       |  WHERE len(string_split_regex(
       |    trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), ' ')) >= 5),
       |th AS (
       |  SELECT doc_id, [CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
       |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS HUGEINT)
       |    FOR t IN s] AS hs
       |  FROM ts),
       |sh AS (
       |  SELECT doc_id, list_distinct([
       |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |        hs[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)]),
       |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT)
       |    FOR i IN range(1, len(hs) - 3)]) AS shingles
       |  FROM th),
       |sx AS (SELECT doc_id, unnest(shingles) AS shv FROM sh),
       |sigv AS (
       |  SELECT doc_id, j,
       |    min(CAST((CAST(a AS HUGEINT) * shv + b) % 2305843009213693951 AS BIGINT)) AS v
       |  FROM sx, perms GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM sigv GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, band,
       |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |        sig[CAST(band * 4 + 1 AS INTEGER):CAST(band * 4 + 4 AS INTEGER)]),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) % 1048576 AS BIGINT) AS bh
       |  FROM sigs, (SELECT unnest(range(32)) AS band))""".stripMargin
  }

  /** Shared CTE chain replaying the near-dup cluster construction: 5-gram
    * shingles → capped candidate pairs → Jaccard >= 0.8 edges → recursive
    * transitive closure (`reach`). Used by dedup_clusters and
    * dedup_keep_best; the consumer must open `WITH RECURSIVE`. */
  private val clusterCtes: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(
      |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3] || ' ' || s[i+4]
      |     FOR i IN range(1, len(s) - 3)]) AS shingles
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' ') AS s
      |        FROM documents)
      |  WHERE len(s) >= 5),
      |e2 AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
      |cap AS (
      |  SELECT shingle FROM e2 GROUP BY shingle HAVING count(*) <= 1000),
      |p2 AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
      |    count(*) AS common
      |  FROM e2 a
      |  JOIN cap ON cap.shingle = a.shingle
      |  JOIN e2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |pr AS (
      |  SELECT doc_a, doc_b FROM p2
      |  WHERE ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) >= 0.8),
      |ed AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pr
      |  UNION SELECT doc_b, doc_a FROM pr),
      |reach(a, b) AS (
      |  SELECT a, b FROM ed
      |  UNION
      |  SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a)""".stripMargin

  /** The greedy MMR replay appended after a `cand(vec_id, label, emb,
    * score)` CTE: the fetchK=50 relevance-rank window, then the
    * recursive-CTE greedy (λ=0.5, pairwise diversity on the 1e-4 grid,
    * argmax ties to the better-ranked candidate) — ONE definition shared
    * by knn_mmr_ivf and knn_mmr_lsh, so the two store layouts replay the
    * identical re-rank over their own probe chains. */
  private val mmrStoreTail: String = """,
    |mcand AS (
    |  SELECT vec_id, label, emb, score,
    |    CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INTEGER) AS rnk
    |  FROM (SELECT * FROM cand ORDER BY score DESC, vec_id LIMIT 50)),
    |sel(step, vec_id, label, score, sel_ids) AS (
    |  (SELECT 1, vec_id, label, score, [vec_id] FROM mcand ORDER BY rnk LIMIT 1)
    |  UNION ALL
    |  SELECT s.step + 1, c.vec_id, c.label, c.score,
    |    list_append(s.sel_ids, c.vec_id)
    |  FROM sel s, LATERAL (
    |    SELECT c2.vec_id, c2.label, c2.score
    |    FROM mcand c2
    |    WHERE NOT list_contains(s.sel_ids, c2.vec_id)
    |    ORDER BY 0.5 * c2.score - 0.5 * (
    |        SELECT max(FLOOR(list_cosine_similarity(c2.emb, c3.emb) * 10000 + 0.5) / 10000.0)
    |        FROM mcand c3 WHERE list_contains(s.sel_ids, c3.vec_id)) DESC,
    |      c2.rnk
    |    LIMIT 1) c
    |  WHERE s.step < 10)
    |SELECT vec_id, label, score, CAST(step AS INTEGER) AS mmr_rank
    |FROM sel ORDER BY mmr_rank""".stripMargin

  /** Shared recall@5 head for the ann_eval_* oracles — appended after any
    * batch replay chain ending in `sc(query_id, vec_id, score)`: per-query
    * approximate top-5 vs exact top-5 overlap, zero-overlap queries kept
    * at recall 0, one summary row. */
  private val recallOracleTail: String =
    """ap AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
      |    FROM sc) WHERE rn <= 5),
      |ex AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
      |    FROM (
      |      SELECT q.vec_id AS query_id, e.vec_id,
      |        ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
      |      FROM embeddings e CROSS JOIN embeddings q
      |      WHERE q.vec_id < 5 AND e.vec_id >= 5))
      |  WHERE rn <= 5),
      |h AS (
      |  SELECT ex.query_id, count(*) AS n_hit
      |  FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1),
      |pr AS (
      |  SELECT q.query_id, coalesce(h.n_hit, 0) / 5.0 AS recall
      |  FROM (SELECT DISTINCT query_id FROM ex) q LEFT JOIN h USING (query_id))
      |SELECT count(*) AS n_queries, 5 AS k,
      |  FLOOR(avg(recall) * 10000 + 0.5) / 10000.0 AS mean_recall,
      |  FLOOR(min(recall) * 10000 + 0.5) / 10000.0 AS min_recall
      |FROM pr""".stripMargin

  /** Batch IVF-PQ replay ending in `sc(query_id, vec_id, score)` — the
    * unprefixed model chain supplies the coarse centroids (per-query
    * probe sets + the store's partition assignment `fa`), the p-prefixed
    * chain the subspace codebooks (the store's codes column `pfa`);
    * per-query integer ADC over probed partitions only, per-query
    * fetchK=50 window, exact cosine re-rank. Shared by knn_batch_ivf_pq
    * and ann_eval_ivf_pq. */
  private val batchIvfPqCtes: String =
    """qd AS (
      |  SELECT e.vec_id AS query_id, c.cid, sum((c.cq - e.q) * (c.cq - e.q)) AS dd
      |  FROM eq e JOIN c5 c USING (dim)
      |  WHERE e.vec_id < 5 GROUP BY 1, 2),
      |qprobes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT query_id, cid,
      |      row_number() OVER (PARTITION BY query_id ORDER BY dd, cid) AS rn
      |    FROM qd) WHERE rn <= 4),
      |qq AS (SELECT vec_id AS query_id, dim, q FROM eq WHERE vec_id < 5),
      |lut AS (
      |  SELECT q.query_id, c.dim // 8 AS sub, c.cid, CAST(sum(q.q * c.cq) AS BIGINT) AS ip
      |  FROM pc5 c JOIN qq q USING (dim) GROUP BY 1, 2, 3),
      |adc AS (
      |  SELECT l.query_id, f.vec_id, CAST(sum(l.ip) AS BIGINT) AS adc
      |  FROM pfa f JOIN lut l ON l.sub = f.sub AND l.cid = f.cid
      |  JOIN fa iv ON iv.vec_id = f.vec_id
      |  JOIN qprobes p ON p.query_id = l.query_id AND p.cid = iv.cid
      |  WHERE f.vec_id >= 5 GROUP BY 1, 2),
      |cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
      |    FROM adc) WHERE rn <= 50),
      |qvb AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings WHERE vec_id < 5),
      |sc AS (
      |  SELECT c.query_id, c.vec_id,
      |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qvb.v), 4) AS score
      |  FROM cand c JOIN embeddings e USING (vec_id) JOIN qvb USING (query_id))""".stripMargin

  private def lshStoreOracleSql(
      extraFilter: String,
      tail: String =
        """SELECT vec_id, label, bucket, score FROM cand
          |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin): String = {
    val planes = graft.functions.IndexOps.hyperplanes(8, 64)
    def lst(p: Array[Float]): String =
      p.map(v => v.toDouble.toString).mkString("[", ", ", "]")
    val dotTerms = planes.map(p =>
      s"list_inner_product(CAST(embedding AS DOUBLE[]), ${lst(p)})")
    val sigExpr = dotTerms.zipWithIndex
      .map { case (d, i) => s"(CASE WHEN $d > 0 THEN ${1 << i} ELSE 0 END)" }
      .mkString("\n    + ")
    val qDots = planes.zipWithIndex
      .map { case (p, i) => s"list_inner_product(qv, ${lst(p)}) AS d$i" }
      .mkString(",\n    ")
    val qSigExpr = (0 until 8)
      .map(i => s"(CASE WHEN d$i > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    // left-to-right accumulation in plane order, same as the Scala loop
    val costExpr = (0 until 8)
      .map(i => s"(CASE WHEN (xor(r.b, qsig) >> $i) & 1 = 1 THEN abs(d$i) ELSE 0.0 END)")
      .mkString("\n      + ")
    s"""WITH RECURSIVE q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |m AS (
       |  SELECT $qDots
       |  FROM q),
       |ms AS (SELECT *, $qSigExpr AS qsig FROM m),
       |probes AS (
       |  SELECT CAST(r.b AS INTEGER) AS b FROM range(256) r(b), ms
       |  ORDER BY $costExpr,
       |    r.b
       |  LIMIT 37),
       |sigs AS (
       |  SELECT e.vec_id, e.label, e.embedding,
       |    $sigExpr AS bucket
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |  WHERE e.vec_id <> 0 $extraFilter),
       |cand AS (
       |  SELECT s.vec_id, s.label, CAST(s.bucket AS INTEGER) AS bucket,
       |    CAST(s.embedding AS DOUBLE[]) AS emb,
       |    ROUND(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), q.qv), 4) AS score
       |  FROM sigs s, q
       |  WHERE s.bucket IN (SELECT b FROM probes))
       |$tail""".stripMargin
  }

  /** Batch multi-probe LSH replay — [[lshStoreOracleSql]]'s chain
    * generalized to a query SET: per-query plane margins and signature,
    * per-query flip-cost-ordered probe window (row_number partitioned by
    * query instead of a single ORDER BY/LIMIT; cost terms accumulate
    * left-to-right in plane order like the Scala loop), then the probed
    * corpus scored per query. Ends in `sc(query_id, vec_id, score)` like
    * [[batchIvfCtes]] so the top-k and recall heads compose identically. */
  private def batchLshCtes: String = {
    val planes = graft.functions.IndexOps.hyperplanes(8, 64)
    def lst(p: Array[Float]): String =
      p.map(v => v.toDouble.toString).mkString("[", ", ", "]")
    val sigExpr = planes.zipWithIndex
      .map { case (p, i) =>
        s"(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), ${lst(p)}) > 0 THEN ${1 << i} ELSE 0 END)" }
      .mkString("\n    + ")
    val qDots = planes.zipWithIndex
      .map { case (p, i) => s"list_inner_product(qv, ${lst(p)}) AS d$i" }
      .mkString(",\n    ")
    val qSigExpr = (0 until 8)
      .map(i => s"(CASE WHEN d$i > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    val costExpr = (0 until 8)
      .map(i => s"(CASE WHEN (xor(r.b, q.qsig) >> $i) & 1 = 1 THEN abs(q.d$i) ELSE 0.0 END)")
      .mkString("\n        + ")
    s"""lq AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 5),
       |lqm AS (
       |  SELECT query_id, qv,
       |    $qDots
       |  FROM lq),
       |lqms AS (SELECT *, $qSigExpr AS qsig FROM lqm),
       |lqprobes AS (
       |  SELECT query_id, b FROM (
       |    SELECT q.query_id, CAST(r.b AS INTEGER) AS b,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        $costExpr,
       |        r.b) AS rn
       |    FROM range(256) r(b), lqms q) WHERE rn <= 37),
       |lsigs AS (
       |  SELECT e.vec_id, e.embedding,
       |    $sigExpr AS bucket
       |  FROM embeddings e
       |  WHERE e.vec_id >= 5),
       |sc AS (
       |  SELECT q.query_id, s.vec_id,
       |    ROUND(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), q.qv), 4) AS score
       |  FROM lsigs s
       |  JOIN lqprobes p ON s.bucket = p.b
       |  JOIN lqms q ON q.query_id = p.query_id)""".stripMargin
  }

  /** The deterministic training-sample CTEs shared by the IVF and PQ
    * model replays: keepMod from the corpus count (identical integer form
    * to `VectorIndex.sampleKeepMod`), then the multiplicative-hash keep
    * predicate in HUGEINT — exact, like the Spark side's decimal(38)
    * arithmetic. At verify SF the corpus is under the 65536 cap, keepMod
    * = 1, and the sample is the whole table — the predicate is replayed
    * regardless so the contract stays pinned. `eqs` is the sampled slice
    * of the quantized coordinates the training iterations read; the final
    * assignment (and query-side lookups) keep reading the full `eq`. */
  /** Bounded-training-sample replay over whatever `eq` the host chain
    * defined (embeddings-table vectors or computed chunk vectors) — the
    * modulus sizes off the distinct vec_id count, exactly the
    * `VectorIndex.trainingSample` the driver-side trainers collect from
    * their input frame. */
  private val sampleCtes: String =
    """km AS (
      |  SELECT greatest(1, (count(DISTINCT vec_id) + 65535) // 65536) AS m
      |  FROM eq),
      |samp AS (
      |  SELECT DISTINCT vec_id FROM eq, km
      |  WHERE ((CAST(vec_id AS HUGEINT) * 1315423911)
      |         % 2305843009213693951) % m = 0),
      |eqs AS (SELECT e.* FROM eq e JOIN samp USING (vec_id))""".stripMargin

  /** Shared CTE chain for the IVF oracles: replays the FULL deterministic
    * k-means — quantization to the 2^20 fixed-point grid, the bounded
    * vec_id-hash training sample, seed selection (k smallest sampled
    * vec_ids), five Lloyd iterations of integer-distance assignment +
    * half-up integer-mean update — then the final assignment every store
    * row carries (over ALL vectors, not the sample). Works because every
    * arithmetic step on the Spark side is integer (order-independent
    * sums, exact argmin with the tie to the smaller centroid id), so
    * trained model state is no longer engine-dependent: DuckDB reaches
    * bit-identical centroids. 64 = the embedding dim of the test tables;
    * 16 = K; 5 = Iters (VectorIndex.scala). */
  /** The Lloyd replay chain over whatever `eq` (vec_id, dim, q) the host
    * defined: bounded sample, k-smallest-id seeds, five integer
    * iterations, and the final full assignment `fa` — shared by the
    * embeddings-table IVF oracles and the chunk-store oracle (the model
    * replay is source-independent, exactly like the Spark trainer). */
  private def lloydChainCtes: String = {
    val iters = (1 to 5).map { t =>
      s"""d$t AS (
         |  SELECT e.vec_id, c.cid, sum((e.q - c.cq) * (e.q - c.cq)) AS dd
         |  FROM eqs e JOIN c${t - 1} c USING (dim) GROUP BY 1, 2),
         |a$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
         |    FROM d$t) WHERE rn = 1),
         |u$t AS (
         |  SELECT a.cid, e.dim,
         |    CAST(floor((2.0 * sum(e.q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
         |  FROM a$t a JOIN eqs e USING (vec_id) GROUP BY 1, 2),
         |c$t AS (
         |  SELECT c.cid, c.dim, coalesce(u.cq, c.cq) AS cq
         |  FROM c${t - 1} c LEFT JOIN u$t u ON c.cid = u.cid AND c.dim = u.dim)"""
        .stripMargin
    }.mkString(",\n")
    s"""$sampleCtes,
       |seeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
       |  FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 16)),
       |c0 AS (SELECT s.cid, e.dim, e.q AS cq FROM seeds s JOIN eq e USING (vec_id)),
       |$iters,
       |fd AS (
       |  SELECT e.vec_id, c.cid, sum((e.q - c.cq) * (e.q - c.cq)) AS dd
       |  FROM eq e JOIN c5 c USING (dim) GROUP BY 1, 2),
       |fa AS (
       |  SELECT vec_id, cid, dd FROM (
       |    SELECT vec_id, cid, dd,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
       |    FROM fd) WHERE rn = 1)""".stripMargin
  }

  private def ivfModelCtes: String =
    s"""eq AS (
       |  SELECT e.vec_id, r.i AS dim,
       |    CAST(floor(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1048576.0 + 0.5)
       |      AS BIGINT) AS q
       |  FROM embeddings e, range(64) r(i)),
       |$lloydChainCtes""".stripMargin

  /** Shared tail for the batch-through-the-index oracles: per-query probe
    * selection over the replayed centroids (integer distances, ties to
    * the smaller cid — same as the driver-side probe selection), then
    * scoring restricted to vectors whose replayed store assignment `fa`
    * falls in the query's probe set. Assumes the host query opened the
    * ivfModelCtes chain. */
  private val batchIvfCtes: String =
    """qd AS (
      |  SELECT e.vec_id AS query_id, c.cid, sum((c.cq - e.q) * (c.cq - e.q)) AS dd
      |  FROM eq e JOIN c5 c USING (dim)
      |  WHERE e.vec_id < 5 GROUP BY 1, 2),
      |qprobes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT query_id, cid,
      |      row_number() OVER (PARTITION BY query_id ORDER BY dd, cid) AS rn
      |    FROM qd) WHERE rn <= 4),
      |sc AS (
      |  SELECT p.query_id, e.vec_id,
      |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
      |  FROM fa f
      |  JOIN qprobes p ON f.cid = p.cid
      |  JOIN embeddings e ON e.vec_id = f.vec_id
      |  JOIN embeddings q ON q.vec_id = p.query_id
      |  WHERE e.vec_id >= 5)""".stripMargin

  /** Shared CTE chain for the batch-PQ oracles (appended after
    * [[pqModelCtes]]): per-query LUTs against the trained codebooks, the
    * per-query fetchK=100 ADC window, and the exact re-rank — ends in the
    * same `sc` (query_id, vec_id, score) shape as [[batchIvfCtes]] /
    * [[batchLshCtes]] so the top-k and recall heads compose identically. */
  private val batchPqCtes: String =
    """qq AS (SELECT vec_id AS query_id, dim, q FROM eq WHERE vec_id < 5),
      |lut AS (
      |  SELECT q.query_id, c.dim // 8 AS sub, c.cid, CAST(sum(q.q * c.cq) AS BIGINT) AS ip
      |  FROM pc5 c JOIN qq q USING (dim) GROUP BY 1, 2, 3),
      |adc AS (
      |  SELECT l.query_id, f.vec_id, CAST(sum(l.ip) AS BIGINT) AS adc
      |  FROM pfa f JOIN lut l ON l.sub = f.sub AND l.cid = f.cid
      |  WHERE f.vec_id >= 5 GROUP BY 1, 2),
      |cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
      |    FROM adc) WHERE rn <= 100),
      |qvb AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings WHERE vec_id < 5),
      |sc AS (
      |  SELECT c.query_id, c.vec_id,
      |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qvb.v), 4) AS score
      |  FROM cand c JOIN embeddings e USING (vec_id) JOIN qvb USING (query_id))""".stripMargin

  /** Shared CTE chain for the PQ oracles: the same fixed-point Lloyd
    * replay as [[ivfModelCtes]] with the subspace id (`dim // 8`) added to
    * every assignment/update group — the 8 per-subspace codebooks train
    * independently but replay in ONE chain, exactly like the Spark
    * trainer's single-pass-per-iteration shape. `fa` is every vector's
    * (sub, code) assignment under the converged codebooks. */
  private def pqModelCtes: String =
    s"""eq AS (
       |  SELECT e.vec_id, r.i AS dim,
       |    CAST(floor(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1048576.0 + 0.5)
       |      AS BIGINT) AS q
       |  FROM embeddings e, range(64) r(i)),
       |$sampleCtes,
       |seeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
       |  FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 16)),
       |c0 AS (SELECT s.cid, e.dim, e.q AS cq FROM seeds s JOIN eq e USING (vec_id)),
       |${pqIterCtes("p")}""".stripMargin

  /** The per-subspace Lloyd iterations + final assignment, with every CTE
    * name prefixed so the chain can share a WITH block (and the eq/seeds/
    * c0 base) with the unprefixed IVF chain — the knn_ivf_pq oracle hosts
    * both models side by side. */
  private def pqIterCtes(prefix: String): String = {
    val iters = (1 to 5).map { t =>
      val prev = if (t == 1) "c0" else s"${prefix}c${t - 1}"
      s"""${prefix}d$t AS (
         |  SELECT e.vec_id, e.dim // 8 AS sub, c.cid,
         |    sum((e.q - c.cq) * (e.q - c.cq)) AS dd
         |  FROM eqs e JOIN $prev c USING (dim) GROUP BY 1, 2, 3),
         |${prefix}a$t AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, cid) AS rn
         |    FROM ${prefix}d$t) WHERE rn = 1),
         |${prefix}u$t AS (
         |  SELECT a.cid, e.dim,
         |    CAST(floor((2.0 * sum(e.q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
         |  FROM ${prefix}a$t a JOIN eqs e ON e.vec_id = a.vec_id AND e.dim // 8 = a.sub
         |  GROUP BY 1, 2),
         |${prefix}c$t AS (
         |  SELECT c.cid, c.dim, coalesce(u.cq, c.cq) AS cq
         |  FROM $prev c LEFT JOIN ${prefix}u$t u ON c.cid = u.cid AND c.dim = u.dim)"""
        .stripMargin
    }.mkString(",\n")
    s"""$iters,
       |${prefix}fd AS (
       |  SELECT e.vec_id, e.dim // 8 AS sub, c.cid,
       |    sum((e.q - c.cq) * (e.q - c.cq)) AS dd
       |  FROM eq e JOIN ${prefix}c5 c USING (dim) GROUP BY 1, 2, 3),
       |${prefix}fa AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, cid) AS rn
       |    FROM ${prefix}fd) WHERE rn = 1)""".stripMargin
  }

  /** Oracle for the IVF STORE searches: [[ivfModelCtes]] + the nprobe=4
    * probe set (integer L2 to the trained centroids, ties to the smaller
    * id — the same fixed-point grid the driver-side probe selection uses)
    * + the pruned exact top-k. `docJoin`/`extraFilter` compose the label /
    * JSON-metadata predicates of the filtered variants. */
  private def ivfStoreOracleSql(
      docJoin: String, extraFilter: String, tail: String): String =
    s"""WITH RECURSIVE $ivfModelCtes,
       |qq AS (SELECT dim, q FROM eq WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, sum((c.cq - q.q) * (c.cq - q.q)) AS dd
       |    FROM c5 c JOIN qq q USING (dim) GROUP BY 1)
       |  ORDER BY dd, cid LIMIT 4),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id, e.label, f.cid AS centroid_id,
       |    CAST(e.embedding AS DOUBLE[]) AS emb,
       |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v), 4) AS score
       |  FROM fa f JOIN embeddings e USING (vec_id) $docJoin, qv
       |  WHERE f.cid IN (SELECT cid FROM probes) AND e.vec_id <> 0 $extraFilter)
       |$tail""".stripMargin

  /** The chunk store's vector source replayed: sliding-window chunks →
    * signed hash-bucket weights (the text_featurize chain keyed by chunk)
    * → REAL-cast unit vectors (`weight / sqrt(norm2)` from exact integer
    * weights — integers < 2^24 and their 2^-20 scalings are exact in
    * float, so the cast round-trips) → the 2^20 fixed-point `eq` surface
    * the shared Lloyd chain trains on. `cemb` keeps the DOUBLE-precision
    * embedding values for exact cosine scoring; zero-signal chunks are
    * dropped exactly like the Spark side's norm2 > 0 gate. */
  private val chunkEqCtes: String =
    """ch AS (
      |  SELECT doc_id, chunk_id,
      |    substring(text, CAST(chunk_id * 90 + 1 AS INTEGER), 120) AS chunk
      |  FROM (
      |    SELECT doc_id, text, unnest(range(
      |      greatest(1, (length(text) - 30 + 89) // 90))) AS chunk_id
      |    FROM documents)),
      |ce AS (
      |  SELECT doc_id, chunk_id,
      |    unnest(regexp_extract_all(lower(chunk), '[a-z0-9]+')) AS t
      |  FROM ch),
      |chh AS (
      |  SELECT doc_id, chunk_id,
      |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
      |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
      |  FROM ce),
      |cw AS (
      |  SELECT doc_id, chunk_id, CAST(hv % 64 AS INTEGER) AS dim,
      |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
      |  FROM chh GROUP BY 1, 2, 3),
      |cn AS (
      |  SELECT doc_id, chunk_id, CAST(sum(weight * weight) AS BIGINT) AS norm2
      |  FROM cw GROUP BY 1, 2 HAVING sum(weight * weight) > 0),
      |cemb AS (
      |  SELECT n.doc_id * 4096 + n.chunk_id AS vec_id, r.i AS dim,
      |    CAST(CAST(coalesce(w.weight, 0) / sqrt(CAST(n.norm2 AS DOUBLE)) AS REAL)
      |      AS DOUBLE) AS v
      |  FROM cn n CROSS JOIN range(64) r(i)
      |  LEFT JOIN cw w
      |    ON w.doc_id = n.doc_id AND w.chunk_id = n.chunk_id AND w.dim = r.i),
      |eq AS (
      |  SELECT vec_id, dim,
      |    CAST(floor(v * 1048576.0 + 0.5) AS BIGINT) AS q
      |  FROM cemb)""".stripMargin

  /** Oracle for the chunk-granular STORE search: the chunk vectors + the
    * shared Lloyd model replay, then the query document's whole-text unit
    * vector, the nprobe=4 probe set on the fixed-point grid, and the
    * pruned exact cosine top-k — the full [[operators.TextStore
    * .chunkSearchIvf]] path end to end. */
  private def chunkStoreOracleSql: String =
    s"""WITH $chunkEqCtes,
       |$lloydChainCtes,
       |qe AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
       |  FROM documents WHERE doc_id = 0),
       |qh AS (
       |  SELECT CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |    [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
       |    (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
       |  FROM qe),
       |qw AS (
       |  SELECT CAST(hv % 64 AS INTEGER) AS dim,
       |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
       |  FROM qh GROUP BY 1),
       |qn AS (SELECT CAST(sum(weight * weight) AS BIGINT) AS norm2 FROM qw),
       |qemb AS (
       |  SELECT r.i AS dim,
       |    CAST(CAST(coalesce(w.weight, 0) / sqrt(CAST(qn.norm2 AS DOUBLE)) AS REAL)
       |      AS DOUBLE) AS v
       |  FROM qn CROSS JOIN range(64) r(i)
       |  LEFT JOIN qw w ON w.dim = r.i),
       |qq AS (SELECT dim, CAST(floor(v * 1048576.0 + 0.5) AS BIGINT) AS q FROM qemb),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, sum((c.cq - q.q) * (c.cq - q.q)) AS dd
       |    FROM c5 c JOIN qq q USING (dim) GROUP BY 1)
       |  ORDER BY dd, cid LIMIT 4),
       |cl AS (SELECT vec_id, list(v ORDER BY dim) AS emb FROM cemb GROUP BY 1),
       |ql AS (SELECT list(v ORDER BY dim) AS emb FROM qemb)
       |SELECT f.vec_id // 4096 AS doc_id, f.vec_id % 4096 AS chunk_id,
       |  ROUND(list_cosine_similarity(cl.emb, ql.emb), 4) AS score
       |FROM fa f JOIN cl USING (vec_id), ql
       |WHERE f.cid IN (SELECT cid FROM probes) AND f.vec_id // 4096 <> 0
       |ORDER BY score DESC, doc_id, chunk_id
       |LIMIT 10""".stripMargin

  /** Oracle for the `add_texts` ingestion transform: store-ready rows
    * (vec_id scheme, chunk-id label, metadata JSON, exploded integer
    * weights) for the first five documents — integer/string-exact end to
    * end, so the ingest contract replays with no float surface at all. */
  private def addTextsOracleSql: String =
    """WITH ch AS (
      |  SELECT doc_id, chunk_id, lang,
      |    substring(text, CAST(chunk_id * 90 + 1 AS INTEGER), 120) AS chunk
      |  FROM (
      |    SELECT doc_id, text, lang, unnest(range(
      |      greatest(1, (length(text) - 30 + 89) // 90))) AS chunk_id
      |    FROM documents WHERE doc_id < 5)),
      |ce AS (
      |  SELECT doc_id, chunk_id, lang,
      |    unnest(regexp_extract_all(lower(chunk), '[a-z0-9]+')) AS t
      |  FROM ch),
      |chh AS (
      |  SELECT doc_id, chunk_id, lang,
      |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
      |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
      |  FROM ce),
      |cw AS (
      |  SELECT doc_id, chunk_id, lang, CAST(hv % 64 AS INTEGER) AS dim,
      |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
      |  FROM chh GROUP BY 1, 2, 3, 4),
      |cn AS (
      |  SELECT doc_id, chunk_id FROM cw GROUP BY 1, 2
      |  HAVING sum(weight * weight) > 0)
      |SELECT w.doc_id * 4096 + w.chunk_id AS vec_id,
      |  CAST(w.chunk_id AS INTEGER) AS label,
      |  '{"doc_id":' || w.doc_id || ',"chunk_id":' || w.chunk_id ||
      |    ',"lang":"' || w.lang || '"}' AS metadata,
      |  w.dim, w.weight
      |FROM cw w JOIN cn USING (doc_id, chunk_id)
      |ORDER BY vec_id, dim""".stripMargin

  /** Oracle for corpus_bpe_train: the full merge-training replay, one
    * unrolled CTE round per merge (same discipline as the Lloyd chains).
    * Each round recomputes the weighted adjacent-pair histogram over the
    * wrapped symbol strings, takes the (cnt desc, l, r) argmax, and
    * applies the merge with the exact same separator-delimited `replace`
    * the Spark trainer uses — leftmost-non-overlapping on both engines. */
  private def bpeTrainOracleSql(n: Int = 10): String = {
    val rounds = (1 to n).map { t =>
      s"""s$t AS (
         |  SELECT string_split(trim(syms, chr(31)), chr(31) || chr(31)) AS s, freq
         |  FROM w${t - 1}),
         |p$t AS (
         |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT unnest([[s[i], s[i + 1]] FOR i IN range(1, len(s))]) AS pr, freq
         |        FROM s$t WHERE len(s) >= 2)
         |  GROUP BY 1, 2),
         |b$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
         |w$t AS (
         |  SELECT replace(w.syms,
         |      chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
         |      chr(31) || b.l || b.r || chr(31)) AS syms, w.freq
         |  FROM w${t - 1} w, b$t b)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to n)
      .map(t => s"SELECT $t AS merge_rank, l AS lsym, r AS rsym, cnt FROM b$t")
      .mkString("\nUNION ALL ")
    s"""WITH wf AS (
       |  SELECT t AS word, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text),
       |      '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+')) AS t
       |    FROM documents) GROUP BY 1),
       |w0 AS (
       |  SELECT chr(31) || array_to_string(regexp_extract_all(word, '.'),
       |    chr(31) || chr(31)) || chr(31) AS syms, freq
       |  FROM wf),
       |$rounds
       |$sel
       |ORDER BY merge_rank""".stripMargin
  }

  /** Oracle for corpus_bpe_tokenize: the SAME unrolled training chain as
    * [[bpeTrainOracleSql]] (shared CTE builder would re-inline it — the
    * chains must stay textually identical anyway), then the learned
    * merges b1..bN applied to every document's wrapped pre-tokens as N
    * chained replaces, and the per-doc symbol rollup. Degenerate-corpus
    * note: if the vocabulary exhausts before N merges, the Spark side
    * fails fast (bpeTrain's require) while this SQL's empty-b$t cross
    * joins collapse to zero rows — the harness then reports the
    * divergence as a row-count mismatch rather than silently passing. */
  private def bpeTokenizeOracleSql(n: Int = 10): String = {
    val train = bpeTrainOracleSql(n)
    // reuse everything up to (and including) the last training CTE wN;
    // drop the trainer's final UNION-ALL select
    val body = train.substring(0, train.lastIndexOf(s"SELECT 1 AS merge_rank"))
      .trim.stripSuffix("UNION ALL").trim
    val docChain = (1 to n).map { t =>
      s"""dt$t AS (
         |  SELECT d.doc_id,
         |    replace(d.s, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
         |            chr(31) || b.l || b.r || chr(31)) AS s
         |  FROM dt${t - 1} d, b$t b)""".stripMargin
    }.mkString(",\n")
    s"""$body,
       |dt0 AS (
       |  SELECT doc_id, chr(31) || array_to_string(regexp_extract_all(word, '.'),
       |    chr(31) || chr(31)) || chr(31) AS s
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |          '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+')) AS word
       |        FROM documents)),
       |$docChain
       |SELECT doc_id, count(*) AS n_pre,
       |  CAST(sum(len(string_split(trim(s, chr(31)), chr(31) || chr(31)))) AS BIGINT) AS n_merged
       |FROM dt$n GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "knn_cosine" ->
      """SELECT e.vec_id, e.label,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    "knn_dot" ->
      """SELECT e.vec_id, e.label,
        |  ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    "knn_l2" ->
      """SELECT e.vec_id, e.label,
        |  ROUND(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score ASC, e.vec_id
        |LIMIT 10""".stripMargin,
    "knn_filtered" ->
      """SELECT e.vec_id, e.label,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0 AND e.label = 3
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    "knn_threshold" ->
      """SELECT vec_id, score FROM (
        |  SELECT e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |  FROM embeddings e
        |  CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0)
        |WHERE score >= 0.2
        |ORDER BY score DESC, vec_id""".stripMargin,
    // the quantized search's acceptance property IS the exact result:
    // recall@k = 1 after the exact re-rank, so the oracle is the plain
    // exact top-k
    "knn_quantized" ->
      """SELECT e.vec_id, e.label,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    // the greedy MMR selection replayed exactly: candidates = top-fetchK
    // by 4dp score, then a recursive CTE picks argmax of
    // λ·rel − (1−λ)·max-pairwise-similarity per step, with BOTH objective
    // inputs on the 1e-4 grid (the Spark side rounds its diversity term
    // the same way) and ties broken by candidate rank — so the selection
    // path, not just the final set, is engine-independent
    "knn_mmr" ->
      """WITH RECURSIVE cand AS (
        |  SELECT vec_id, label, emb, score,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS INTEGER) AS rnk
        |  FROM (
        |    SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS emb,
        |      ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |    FROM embeddings e
        |    CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |    WHERE e.vec_id <> 0)
        |  ORDER BY score DESC, vec_id
        |  LIMIT 50),
        |sel(step, vec_id, label, score, sel_ids) AS (
        |  (SELECT 1, vec_id, label, score, [vec_id] FROM cand ORDER BY rnk LIMIT 1)
        |  UNION ALL
        |  SELECT s.step + 1, c.vec_id, c.label, c.score, list_append(s.sel_ids, c.vec_id)
        |  FROM sel s, LATERAL (
        |    SELECT c2.vec_id, c2.label, c2.score
        |    FROM cand c2
        |    WHERE NOT list_contains(s.sel_ids, c2.vec_id)
        |    ORDER BY 0.5 * c2.score - 0.5 * (
        |        SELECT max(FLOOR(list_cosine_similarity(c2.emb, c3.emb) * 10000 + 0.5) / 10000.0)
        |        FROM cand c3 WHERE list_contains(s.sel_ids, c3.vec_id)) DESC,
        |      c2.rnk
        |    LIMIT 1) c
        |  WHERE s.step < 10)
        |SELECT vec_id, label, score, CAST(step AS INTEGER) AS mmr_rank
        |FROM sel ORDER BY mmr_rank""".stripMargin,
    "knn_filtered_json" ->
      """SELECT e.vec_id, e.label, d.source,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |FROM embeddings e
        |JOIN documents d ON e.vec_id = d.doc_id
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0 AND d.lang = 'en'
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    "events_rolling" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  ROUND(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS roll_sum,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_window
        |FROM events
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    // as-of semantics pinned explicitly: join + QUALIFY argmax instead of
    // DuckDB's native ASOF JOIN, whose equal-key tie choice is unspecified
    "events_asof" ->
      """SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  p.event_id AS p_event_id, epoch_us(p.ts) AS p_ts_us,
        |  ROUND(p.value, 2) AS p_value,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |QUALIFY row_number() OVER (
        |  PARTITION BY c.event_id ORDER BY p.ts DESC, p.event_id DESC) = 1
        |ORDER BY click_id""".stripMargin,
    // step qualification = presence among STRICTLY preceding rows in the
    // per-user (ts, event_id) order — replayed with the same
    // UNBOUNDED..1 PRECEDING running sums
    "events_funnel" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |c1 AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'click' AND COALESCE(sum(is_view) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) > 0
        |      THEN 1 ELSE 0 END AS qual_click
        |  FROM e),
        |c2 AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'purchase' AND COALESCE(sum(qual_click) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) > 0
        |      THEN 1 ELSE 0 END AS qual_purchase
        |  FROM c1),
        |u AS (
        |  SELECT user_id, max(is_view) AS s1, max(qual_click) AS s2,
        |    max(qual_purchase) AS s3
        |  FROM c2 GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(s1) AS BIGINT) AS n_view,
        |  CAST(sum(s2) AS BIGINT) AS n_click_after_view,
        |  CAST(sum(s3) AS BIGINT) AS n_purchase_after_click,
        |  FLOOR(CAST(sum(s2) AS BIGINT) / CAST(NULLIF(CAST(sum(s1) AS BIGINT), 0) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS view_to_click,
        |  FLOOR(CAST(sum(s3) AS BIGINT) / CAST(NULLIF(CAST(sum(s2) AS BIGINT), 0) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS click_to_purchase
        |FROM u""".stripMargin,
    "events_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) // 7 AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY user_id)
        |SELECT c.cohort_week, a.week - c.cohort_week AS age_weeks,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // exact rank-interpolated percentiles: Spark `percentile` and DuckDB
    // `quantile_cont` share the (1-g)·lo + g·hi definition
    "events_quantiles" ->
      """SELECT event_type,
        |  FLOOR(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000.0 AS p50,
        |  FLOOR(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000.0 AS p95,
        |  FLOOR(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000.0 AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the z-score test replayed EXACTLY: cents quantization + the
    // squared-both-sides integer comparison, HUGEINT headroom
    "events_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(vc) AS BIGINT) AS sv,
        |    sum(CAST(vc AS HUGEINT) * vc) AS svv
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value
        |FROM e JOIN s USING (event_type)
        |WHERE (CAST(n AS HUGEINT) * vc - sv) * (CAST(n AS HUGEINT) * vc - sv)
        |  > 9 * (CAST(n AS HUGEINT) * svv - CAST(sv AS HUGEINT) * sv)
        |ORDER BY event_id""".stripMargin,
    "events_props_json" ->
      """SELECT event_type, count(*) AS n_events,
        |  FLOOR(avg(k) * 10000 + 0.5) / 10000.0 AS avg_k,
        |  ROUND(sum(value), 2) AS sum_value
        |FROM (SELECT event_type, value, CAST(props->>'$.k' AS INTEGER) AS k
        |      FROM events)
        |WHERE k >= 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "knn_cosine_norm" ->
      """SELECT e.vec_id, e.label,
        |  ROUND(list_inner_product(
        |    [x / sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) FOR x IN CAST(e.embedding AS DOUBLE[])],
        |    q.uq), 4) AS score
        |FROM embeddings e
        |CROSS JOIN (
        |  SELECT [x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) FOR x IN CAST(embedding AS DOUBLE[])] AS uq
        |  FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    "knn_batch" ->
      """SELECT query_id, vec_id, score, rank FROM (
        |  SELECT query_id, vec_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |      ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
        |    FROM embeddings e
        |    CROSS JOIN embeddings q
        |    WHERE q.vec_id < 5 AND e.vec_id >= 5))
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "store_get" ->
      """SELECT e.vec_id, e.label, d.lang, CAST(d.n_chars AS INTEGER) AS n_chars,
        |  ROUND(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))), 4) AS norm
        |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |WHERE e.vec_id IN (1, 7, 42, 123, 321, 499)
        |ORDER BY e.vec_id""".stripMargin,
    "vec_normalize" ->
      """SELECT vec_id, label,
        |  ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS norm,
        |  ROUND(1.0, 4) AS unit_norm
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,
    "store_stats" ->
      """SELECT count(*) AS n_vectors, count(DISTINCT label) AS n_labels,
        |  CAST(min(len(embedding)) AS INTEGER) AS min_dim,
        |  CAST(max(len(embedding)) AS INTEGER) AS max_dim
        |FROM embeddings""".stripMargin,
    "rag_context" ->
      ("""SELECT 0 AS query_id, count(*) AS n_docs,
        |  string_agg(d.text, '""".stripMargin + "\n\n" +
        """' ORDER BY s.score DESC, s.vec_id) AS context
        |FROM (
        |  SELECT e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |  FROM embeddings e
        |  CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY score DESC, e.vec_id
        |  LIMIT 3) s
        |JOIN documents d ON d.doc_id = s.vec_id""".stripMargin),
    "rag_prompt" ->
      ("""SELECT 0 AS query_id, count(*) AS n_docs,
        |  'Answer the question based on the following documents: "' ||
        |  (SELECT text FROM documents WHERE doc_id = 0) || '"' || '""".stripMargin
        + "\n\nDocuments:\n" + """' ||
        |  string_agg(d.text, '""".stripMargin + "\n\n" +
        """' ORDER BY s.score DESC, s.vec_id) || '""".stripMargin
        + "\n\nGive a concise answer using only the information above." + """' AS prompt
        |FROM (
        |  SELECT e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        |  FROM embeddings e
        |  CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY score DESC, e.vec_id
        |  LIMIT 3) s
        |JOIN documents d ON d.doc_id = s.vec_id""".stripMargin),
    // search_metrics graded on its DETERMINISTIC columns (the projection
    // the queries entry emits): the stage list is fixed by the pipeline
    // shape; rows_out replays as 1 (query vector), min(k, eligible docs)
    // for search (eligible = has at least one [a-z0-9]+ token, the
    // norm2 > 0 condition), 1 context row iff any hit, 1 prompt.
    // The token predicate is an ASSUMED-equivalent proxy for the Scala
    // side's norm2 > 0: hashing-trick buckets hold SIGNED counts, so a
    // tokened doc could in principle cancel to an all-zero vector and be
    // excluded by textSearchByVector while this oracle still counts it —
    // observable only when eligible docs < k+1 (never on the graded
    // corpora, where eligible docs >> k; the text_search oracle replays
    // the signed buckets exactly where individual hits are graded)
    "search_metrics" ->
      """WITH elig AS (
        |  SELECT count(*) AS n FROM documents
        |  WHERE doc_id <> 0
        |    AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0)
        |SELECT 1 AS stage_ord, 'embed_query' AS stage,
        |  CAST(1 AS BIGINT) AS rows_out
        |UNION ALL SELECT 2, 'search',
        |  CAST(LEAST(3, (SELECT n FROM elig)) AS BIGINT)
        |UNION ALL SELECT 3, 'build_context',
        |  CAST(CASE WHEN (SELECT n FROM elig) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |UNION ALL SELECT 4, 'build_prompt', CAST(1 AS BIGINT)
        |ORDER BY stage_ord""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(sum(l_quantity), 2) AS sum_qty,
        |  ROUND(sum(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  ROUND(avg(l_quantity), 4) AS avg_qty,
        |  ROUND(avg(l_extendedprice), 4) AS avg_price,
        |  ROUND(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey, strftime(od, '%Y-%m-%d') AS o_orderdate, revenue FROM (
        |  SELECT l_orderkey, o_orderdate AS od,
        |    ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q18_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  ROUND(o_totalprice, 2) AS o_totalprice,
        |  ROUND(total_qty, 2) AS total_qty
        |FROM (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) big
        |JOIN orders ON big.l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY ROUND(o_totalprice, 2) DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q5_join" ->
      """SELECT n_name, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "events_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS window_start,
        |  event_type, count(*) AS n_events, ROUND(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_sessionize" ->
      """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, epoch_us(min(ts)) AS session_start,
        |  ROUND(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |    FROM (
        |      SELECT user_id, event_id, ts, value,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session_window" ->
      """SELECT user_id, min(ts_us) AS session_start,
        |  count(*) AS n_events, ROUND(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT user_id, ts_us, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS ts_us, value,
        |      CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |    FROM (
        |      SELECT user_id, ts, value,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |      FROM events)))
        |GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS INTEGER) AS n_uniq_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9'']+|[ ]+')) AS INTEGER) AS n_bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9'']+|[ ]+'))) AS INTEGER) AS n_uniq_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  FLOOR(n_stop / CAST(len(toks) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS stop_ratio,
        |  FLOOR((0.5 * least(1.0, len(toks) / 60.0)
        |      + 0.3 * (1.0 - n_stop / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(1.0, (length(text) / CAST(len(toks) AS DOUBLE)) / 8.0))
        |    * 10000 + 0.5) / 10000.0 AS quality
        |FROM (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> list_contains(['the','a','and','of','to','in','is','it'], t))) AS n_stop
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """SELECT doc_id, c_en, c_de, c_fr, c_es, c_zh,
        |  CASE
        |    WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
        |    WHEN c_de >= c_en AND c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
        |    WHEN c_fr >= c_en AND c_fr >= c_de AND c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
        |    WHEN c_es >= c_en AND c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
        |    WHEN c_zh >= c_en AND c_zh >= c_de AND c_zh >= c_fr AND c_zh >= c_es THEN 'zh'
        |  END AS pred_lang
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','fast','slow','small','big'], t))) AS INTEGER) AS c_en,
        |    CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht'], t))) AS INTEGER) AS c_de,
        |    CAST(len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], t))) AS INTEGER) AS c_fr,
        |    CAST(len(list_filter(toks, t -> list_contains(['el','los','las','y','es'], t))) AS INTEGER) AS c_es,
        |    CAST(len(list_filter(toks, t -> list_contains(['shi','bu','wo','ni','hao'], t))) AS INTEGER) AS c_zh
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)),
        |tb AS (
        |  SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2)
        |  GROUP BY 1),
        |s AS (
        |  SELECT t.doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
        |    CASE WHEN len(toks) > 0
        |      THEN FLOOR(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) * 10000 + 0.5) / 10000.0
        |      ELSE 0.0 END AS uniq_ratio,
        |    COALESCE(tb.top_c, 0) AS top_bigram_cnt,
        |    CASE WHEN len(toks) >= 2
        |      THEN FLOOR(COALESCE(tb.top_c, 0) / CAST(len(toks) - 1 AS DOUBLE) * 10000 + 0.5) / 10000.0
        |      ELSE 0.0 END AS top_bigram_ratio
        |  FROM t LEFT JOIN tb ON t.doc_id = tb.doc_id)
        |SELECT doc_id, n_tokens, n_uniq, uniq_ratio, top_bigram_cnt, top_bigram_ratio,
        |  (uniq_ratio < 0.45 OR (top_bigram_cnt >= 2 AND top_bigram_ratio > 0.10)) AS repetitive
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_pii" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'srv ' || CAST(10 + doc_id % 200 AS VARCHAR)
        |      || '.' || CAST(doc_id % 250 AS VARCHAR)
        |      || '.' || CAST((doc_id // 7) % 250 AS VARCHAR)
        |      || '.' || CAST(1 + doc_id % 254 AS VARCHAR) || ' ' ELSE '' END
        |    || text
        |    || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(s, '\+1-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phone,
        |  CAST(len(regexp_extract_all(s, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(s,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5,
        |  (len(regexp_extract_all(s, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |   + len(regexp_extract_all(s, '\+1-[0-9]{3}-[0-9]{4}'))
        |   + len(regexp_extract_all(s, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))) > 0 AS has_pii
        |FROM inj ORDER BY doc_id""".stripMargin,
    "corpus_dup_profile" ->
      """WITH g AS (
        |  SELECT count(*) AS copies FROM (
        |    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k
        |    FROM documents)
        |  GROUP BY k)
        |SELECT copies, count(*) AS n_groups, copies * count(*) AS n_docs
        |FROM g GROUP BY copies ORDER BY copies""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |    [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(text, '.')]),
        |    (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_featurize" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
        |  FROM e),
        |w AS (
        |  SELECT doc_id, CAST(hv % 64 AS INTEGER) AS dim,
        |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
        |  FROM h GROUP BY 1, 2),
        |n AS (
        |  SELECT doc_id, sqrt(sum(CAST(weight AS DOUBLE) * weight)) AS nrm
        |  FROM w GROUP BY 1)
        |SELECT w.doc_id, w.dim, w.weight,
        |  FLOOR((CASE WHEN nrm > 0 THEN weight / nrm ELSE 0.0 END) * 10000 + 0.5) / 10000.0 AS unit_weight
        |FROM w JOIN n ON w.doc_id = n.doc_id
        |ORDER BY w.doc_id, w.dim""".stripMargin,
    "doc_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    greatest(1, (length(text) - 30 + 89) // 90) AS n_chunks
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, text, unnest(range(n_chunks)) AS chunk_id FROM d)
        |SELECT doc_id, chunk_id, chunk_id * 90 AS c_start,
        |  substring(text, CAST(chunk_id * 90 + 1 AS INTEGER), 120) AS chunk,
        |  length(substring(text, CAST(chunk_id * 90 + 1 AS INTEGER), 120)) AS c_len
        |FROM x
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // chunk-granular retrieval: the doc_chunk windows re-featurized with
    // the textSearchCtes hash chain, keyed (doc_id, chunk_id); the query
    // side is doc 0's WHOLE-document weights, exactly like text_search
    "chunk_search" ->
      """WITH ch AS (
        |  SELECT doc_id, chunk_id,
        |    substring(text, CAST(chunk_id * 90 + 1 AS INTEGER), 120) AS chunk
        |  FROM (
        |    SELECT doc_id, text, unnest(range(
        |      greatest(1, (length(text) - 30 + 89) // 90))) AS chunk_id
        |    FROM documents WHERE doc_id <> 0)),
        |e AS (
        |  SELECT doc_id, chunk_id,
        |    unnest(regexp_extract_all(lower(chunk), '[a-z0-9]+')) AS t
        |  FROM ch),
        |h AS (
        |  SELECT doc_id, chunk_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
        |  FROM e),
        |w AS (
        |  SELECT doc_id, chunk_id, CAST(hv % 64 AS INTEGER) AS dim,
        |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
        |  FROM h GROUP BY 1, 2, 3),
        |qe AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        |  FROM documents WHERE doc_id = 0),
        |qh AS (
        |  SELECT CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |    [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
        |    (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
        |  FROM qe),
        |q AS (
        |  SELECT CAST(hv % 64 AS INTEGER) AS dim,
        |    CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
        |  FROM qh GROUP BY 1),
        |qn AS (SELECT CAST(sum(weight * weight) AS BIGINT) AS qnorm2 FROM q),
        |s AS (
        |  SELECT w.doc_id, w.chunk_id,
        |    CAST(sum(CASE WHEN q.weight IS NULL THEN 0 ELSE w.weight * q.weight END) AS BIGINT) AS dot,
        |    CAST(sum(w.weight * w.weight) AS BIGINT) AS norm2
        |  FROM w LEFT JOIN q ON w.dim = q.dim
        |  GROUP BY 1, 2)
        |SELECT doc_id, chunk_id,
        |  FLOOR(dot / sqrt(CAST(norm2 AS DOUBLE) * CAST((SELECT qnorm2 FROM qn) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS score
        |FROM s
        |WHERE norm2 > 0
        |ORDER BY score DESC, doc_id, chunk_id
        |LIMIT 10""".stripMargin,
    // the chunk STORE search replayed end to end: computed chunk vectors,
    // the shared fixed-point Lloyd model, probe pruning, exact cosine
    "chunk_search_ivf" -> chunkStoreOracleSql,
    // the add_texts ingestion transform: store-ready rows, integer-exact
    "add_texts" -> addTextsOracleSql,
    // the lone transcendental (idf's ln) is pinned to 4dp on both sides
    // BEFORE combination; every other factor is IEEE +,·,/ in the same
    // spelled-out order, so the 4dp score is engine-independent
    "bm25_search" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(tk) AS dl,
        |    len(list_filter(tk, x -> x = 'spark')) AS tf0,
        |    len(list_filter(tk, x -> x = 'merge')) AS tf1,
        |    len(list_filter(tk, x -> x = 'vector')) AS tf2
        |  FROM t),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM d),
        |i AS (
        |  SELECT n, sumdl,
        |    floor(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * 10000 + 0.5) / 10000.0 AS idf0,
        |    floor(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * 10000 + 0.5) / 10000.0 AS idf1,
        |    floor(ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * 10000 + 0.5) / 10000.0 AS idf2
        |  FROM st)
        |SELECT doc_id, dl, tf0 + tf1 + tf2 AS n_hit,
        |  floor((
        |    idf0 * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(dl * n AS DOUBLE) / sumdl)))
        |    + idf1 * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(dl * n AS DOUBLE) / sumdl)))
        |    + idf2 * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(dl * n AS DOUBLE) / sumdl)))
        |  ) * 10000 + 0.5) / 10000.0 AS score
        |FROM d, i
        |WHERE tf0 + tf1 + tf2 > 0
        |ORDER BY score DESC, doc_id
        |LIMIT 10""".stripMargin,
    "text_search" ->
      (s"WITH $textSearchCtes\n" +
        """SELECT doc_id,
          |  FLOOR(dot / sqrt(CAST(norm2 AS DOUBLE) * CAST((SELECT qnorm2 FROM qn) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS score
          |FROM s
          |ORDER BY score DESC, doc_id
          |LIMIT 10""".stripMargin),
    "rag_text" ->
      (s"WITH $textSearchCtes,\n" +
        """top AS (
          |  SELECT doc_id,
          |    FLOOR(dot / sqrt(CAST(norm2 AS DOUBLE) * CAST((SELECT qnorm2 FROM qn) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS score
          |  FROM s
          |  ORDER BY score DESC, doc_id
          |  LIMIT 3)
          |SELECT 0 AS query_id, count(*) AS n_docs,
          |  string_agg(d.text, '""".stripMargin + "\n\n" +
        """' ORDER BY t.score DESC, t.doc_id) AS context
          |FROM top t JOIN documents d ON d.doc_id = t.doc_id""".stripMargin),
    // RRF fusion of the two deterministic top-20 lists; rank windows and
    // the 1/(60+r) arithmetic replayed with the same op order both sides
    "hybrid_rrf" ->
      (s"WITH $textSearchCtes,\n" +
        """tr AS (
          |  SELECT doc_id,
          |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS r_text
          |  FROM (
          |    SELECT doc_id,
          |      FLOOR(dot / sqrt(CAST(norm2 AS DOUBLE) * CAST((SELECT qnorm2 FROM qn) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS score
          |    FROM s
          |    ORDER BY score DESC, doc_id
          |    LIMIT 20)),
          |vr AS (
          |  SELECT vec_id AS doc_id,
          |    CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INTEGER) AS r_vec
          |  FROM (
          |    SELECT e.vec_id,
          |      ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
          |    FROM embeddings e
          |    CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
          |    WHERE e.vec_id <> 0
          |    ORDER BY score DESC, e.vec_id
          |    LIMIT 20))
          |SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
          |  FLOOR((
          |    (CASE WHEN r_text IS NULL THEN 0.0 ELSE 1.0 / (r_text + 60) END)
          |    + (CASE WHEN r_vec IS NULL THEN 0.0 ELSE 1.0 / (r_vec + 60) END)
          |  ) * 10000 + 0.5) / 10000.0 AS rrf
          |FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
          |ORDER BY rrf DESC, doc_id
          |LIMIT 10""".stripMargin),
    "corpus_vocab" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |      FROM documents)
        |GROUP BY 1
        |ORDER BY n DESC, token
        |LIMIT 200""".stripMargin,
    "corpus_bpe_train" -> bpeTrainOracleSql(),
    "corpus_bpe_tokenize" -> bpeTokenizeOracleSql(),
    // deterministic shuffle replayed as one ranked window — the Spark
    // side's (bucket offsets + local window) composition equals rank
    // under the (bucket, ord, doc_id) order by construction
    "corpus_shuffle" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(text, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS fp
        |  FROM documents)
        |SELECT doc_id, fp % 16 AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY fp % 16
        |    ORDER BY (fp // 16) % 64, fp // 1024, doc_id) - 1 AS BIGINT) AS pos
        |FROM d
        |ORDER BY shard, pos""".stripMargin,
    // per-token log-probs quantize to 1e-4 Longs BEFORE the per-doc sum
    // (integer sums are order-free); ln pinned per distinct count value
    "text_ppl" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e),
        |vq AS (
        |  SELECT token,
        |    CAST(floor(ln(CAST(n AS DOUBLE) / n_total) * 10000 + 0.5) AS BIGINT) AS logq
        |  FROM v, t)
        |SELECT e.doc_id, count(*) AS n_tokens,
        |  CAST(sum(vq.logq) AS BIGINT) AS sum_logq,
        |  FLOOR(CAST(sum(vq.logq) AS BIGINT) / (count(*) * 10000.0) * 10000 + 0.5) / 10000.0 AS avg_logprob
        |FROM e JOIN vq USING (token)
        |GROUP BY 1
        |ORDER BY doc_id""".stripMargin,
    // hybrid through the index: the vector ranks come from the replayed
    // pruned IVF probe instead of the exact scan; fusion identical
    "hybrid_rrf_ivf" ->
      (s"WITH $ivfModelCtes,\n$textSearchCtes,\n" +
        """qq AS (SELECT dim, q FROM eq WHERE vec_id = 0),
          |probes AS (
          |  SELECT cid FROM (
          |    SELECT c.cid, sum((c.cq - q.q) * (c.cq - q.q)) AS dd
          |    FROM c5 c JOIN qq q USING (dim) GROUP BY 1)
          |  ORDER BY dd, cid LIMIT 4),
          |qv2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
          |vcand AS (
          |  SELECT e.vec_id,
          |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv2.v), 4) AS score
          |  FROM fa f JOIN embeddings e USING (vec_id), qv2
          |  WHERE f.cid IN (SELECT cid FROM probes) AND e.vec_id <> 0),
          |vr AS (
          |  SELECT vec_id AS doc_id,
          |    CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INTEGER) AS r_vec
          |  FROM (SELECT vec_id, score FROM vcand ORDER BY score DESC, vec_id LIMIT 20)),
          |tr AS (
          |  SELECT doc_id,
          |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS r_text
          |  FROM (
          |    SELECT doc_id,
          |      FLOOR(dot / sqrt(CAST(norm2 AS DOUBLE) * CAST((SELECT qnorm2 FROM qn) AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS score
          |    FROM s
          |    ORDER BY score DESC, doc_id
          |    LIMIT 20))
          |SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
          |  FLOOR((
          |    (CASE WHEN r_text IS NULL THEN 0.0 ELSE 1.0 / (r_text + 60) END)
          |    + (CASE WHEN r_vec IS NULL THEN 0.0 ELSE 1.0 / (r_vec + 60) END)
          |  ) * 10000 + 0.5) / 10000.0 AS rrf
          |FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
          |ORDER BY rrf DESC, doc_id
          |LIMIT 10""".stripMargin),
    "corpus_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
        |  FLOOR(avg(len(toks)) * 10000 + 0.5) / 10000.0 AS avg_tokens,
        |  CAST(min(len(toks)) AS INTEGER) AS min_tokens,
        |  CAST(max(len(toks)) AS INTEGER) AS max_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM (SELECT lang, n_chars,
        |        regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |      FROM documents)""".stripMargin,
    "corpus_sample" ->
      """SELECT doc_id, lang, CAST(fp % 100 AS INTEGER) AS bucket
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(text, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS fp
        |  FROM documents)
        |WHERE fp % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    // content-keyed split: the fingerprint runs over the dedup-NORMALIZED
    // text (copies co-locate in one split — no train/test leakage through
    // duplicates), replayed with the same rolling fold as corpus_sample
    "corpus_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
        |       ELSE 'train' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(
        |        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT)
        |      % 1000 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // temperature mixture: per-lang thresholds derive via integer-exact
    // arithmetic from the counts (isqrt weights, DIV), keep test replays
    // the fingerprint mod — every kept doc_id is engine-independent
    "corpus_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(text, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT)
        |      % 1000000 AS bucket
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS n_l FROM d GROUP BY lang),
        |m AS (
        |  SELECT lang, n_l,
        |    CAST(floor(sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS w,
        |    sum(CAST(floor(sqrt(CAST(n_l AS DOUBLE))) AS BIGINT)) OVER () AS sw,
        |    sum(n_l) OVER () AS n_total
        |  FROM c),
        |t AS (
        |  SELECT lang,
        |    least(1000000, (1000000 * (n_total // 2) * w) // (sw * n_l)) AS threshold
        |  FROM m)
        |SELECT d.doc_id, d.lang, d.bucket
        |FROM d JOIN t USING (lang)
        |WHERE d.bucket < t.threshold
        |ORDER BY doc_id""".stripMargin,
    "corpus_pack" ->
      """SELECT lang, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id, lang,
        |          len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        |        FROM documents))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipeline_clean" ->
      """WITH base AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> list_contains(['the','a','and','of','to','in','is','it'], t))) AS n_stop
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    FLOOR((0.5 * least(1.0, len(toks) / 60.0)
        |        + 0.3 * (1.0 - n_stop / CAST(len(toks) AS DOUBLE))
        |        + 0.2 * least(1.0, (length(text) / CAST(len(toks) AS DOUBLE)) / 8.0))
        |      * 10000 + 0.5) / 10000.0 AS quality,
        |    len(list_filter(toks, t -> list_contains(['the','a','fast','slow','small','big'], t))) AS c_en,
        |    greatest(
        |      len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht'], t))),
        |      len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], t))),
        |      len(list_filter(toks, t -> list_contains(['el','los','las','y','es'], t))),
        |      len(list_filter(toks, t -> list_contains(['shi','bu','wo','ni','hao'], t)))) AS c_other
        |  FROM base),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3] || ' ' || s[i+4]
        |     FOR i IN range(1, len(s) - 3)]) AS shingles
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)
        |  WHERE len(s) >= 5),
        |e AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        |cap AS (
        |  SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= 1000),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
        |    count(*) AS common
        |  FROM e a
        |  JOIN cap ON cap.shingle = a.shingle
        |  JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |dups AS (
        |  SELECT DISTINCT doc_b FROM p
        |  WHERE ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) >= 0.8)
        |SELECT doc_id, quality FROM scored
        |WHERE quality >= 0.5 AND c_en >= c_other
        |  AND doc_id NOT IN (SELECT doc_b FROM dups)
        |ORDER BY doc_id""".stripMargin,
    // the COMPLETE pipeline: pipeline_clean's quality/langid/dedup chain
    // + text_repetition's gate + text_pii's injection/redaction, all
    // replayed doc-level (the Spark side's unique-first collapse and
    // per-row sorted-bigram-run are execution shapes, not semantics)
    "pipeline_clean_full" ->
      """WITH base AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> list_contains(['the','a','and','of','to','in','is','it'], t))) AS n_stop
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    FLOOR((0.5 * least(1.0, len(toks) / 60.0)
        |        + 0.3 * (1.0 - n_stop / CAST(len(toks) AS DOUBLE))
        |        + 0.2 * least(1.0, (length(text) / CAST(len(toks) AS DOUBLE)) / 8.0))
        |      * 10000 + 0.5) / 10000.0 AS quality,
        |    len(list_filter(toks, t -> list_contains(['the','a','fast','slow','small','big'], t))) AS c_en,
        |    greatest(
        |      len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht'], t))),
        |      len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], t))),
        |      len(list_filter(toks, t -> list_contains(['el','los','las','y','es'], t))),
        |      len(list_filter(toks, t -> list_contains(['shi','bu','wo','ni','hao'], t)))) AS c_other
        |  FROM base),
        |bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)),
        |tb AS (
        |  SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY 1),
        |rep AS (
        |  SELECT b.doc_id,
        |    CASE WHEN len(toks) > 0
        |      THEN FLOOR(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) * 10000 + 0.5) / 10000.0
        |      ELSE 0.0 END AS uniq_ratio,
        |    COALESCE(tb.top_c, 0) AS top_bigram_cnt,
        |    CASE WHEN len(toks) >= 2
        |      THEN FLOOR(COALESCE(tb.top_c, 0) / CAST(len(toks) - 1 AS DOUBLE) * 10000 + 0.5) / 10000.0
        |      ELSE 0.0 END AS top_bigram_ratio
        |  FROM base b LEFT JOIN tb ON b.doc_id = tb.doc_id),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3] || ' ' || s[i+4]
        |     FOR i IN range(1, len(s) - 3)]) AS shingles
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)
        |  WHERE len(s) >= 5),
        |e AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        |cap AS (
        |  SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= 1000),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
        |    count(*) AS common
        |  FROM e a
        |  JOIN cap ON cap.shingle = a.shingle
        |  JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |dups AS (
        |  SELECT DISTINCT doc_b FROM p
        |  WHERE ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) >= 0.8),
        |inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'srv ' || CAST(10 + doc_id % 200 AS VARCHAR)
        |      || '.' || CAST(doc_id % 250 AS VARCHAR)
        |      || '.' || CAST((doc_id // 7) % 250 AS VARCHAR)
        |      || '.' || CAST(1 + doc_id % 254 AS VARCHAR) || ' ' ELSE '' END
        |    || text
        |    || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS s
        |  FROM documents)
        |SELECT s.doc_id, s.quality,
        |  CAST(len(regexp_extract_all(i.s, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |   + len(regexp_extract_all(i.s, '\+1-[0-9]{3}-[0-9]{4}'))
        |   + len(regexp_extract_all(i.s, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_pii,
        |  md5(regexp_replace(regexp_replace(regexp_replace(i.s,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
        |FROM scored s
        |JOIN rep r ON s.doc_id = r.doc_id
        |JOIN inj i ON s.doc_id = i.doc_id
        |WHERE s.quality >= 0.5 AND s.c_en >= s.c_other
        |  AND NOT (r.uniq_ratio < 0.45
        |    OR (r.top_bigram_cnt >= 2 AND r.top_bigram_ratio > 0.10))
        |  AND s.doc_id NOT IN (SELECT doc_b FROM dups)
        |ORDER BY s.doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, text_md5, count(*) AS n_copies FROM (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_md5
        |  FROM documents)
        |GROUP BY text_md5 ORDER BY keep_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3] || ' ' || s[i+4]
        |     FOR i IN range(1, len(s) - 3)]) AS shingles
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)
        |  WHERE len(s) >= 5),
        |e AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        |cap AS (
        |  SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= 1000),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
        |    count(*) AS common
        |  FROM e a
        |  JOIN cap ON cap.shingle = a.shingle
        |  JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b,
        |  ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) AS jaccard
        |FROM p WHERE ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // substring-granular duplication: every 8-token window's corpus
    // occurrence count (within-doc repeats included), per-doc dup fraction
    "dedup_ngram_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS win
        |  FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS g(i)
        |  WHERE len(toks) >= 8),
        |tot AS (SELECT win, count(*) AS tcnt FROM w GROUP BY 1),
        |per AS (
        |  SELECT w.doc_id,
        |    count(*) AS n_windows,
        |    sum(CASE WHEN tot.tcnt >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM w JOIN tot USING (win) GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |  CASE WHEN coalesce(per.n_windows, 0) > 0
        |    THEN FLOOR(per.n_dup / CAST(per.n_windows AS DOUBLE) * 10000 + 0.5) / 10000.0
        |    ELSE 0.0 END AS dup_fraction
        |FROM t LEFT JOIN per USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // simhash is a deterministic integer pipeline (Mersenne-61 poly hashes,
    // bit votes, popcount), so the full contract — any-band 16-bit block
    // match AND hamming ≤ 3 — is SQL-expressible: the oracle recomputes the
    // fingerprints and takes the pairwise answer directly (the Spark side's
    // sub-bucketed join is EXACT, so no capping appears here). Fingerprints
    // are < 2^61 (token hashes are 61-bit, so bits 61-63 never vote true):
    // range(61) builds the identical value without signed-shift edge cases.
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(
        |    trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' ')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h, (SELECT unnest(range(61)) AS j) GROUP BY 1, 2),
        |f AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
        |  FROM v GROUP BY 1)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id
        |  WHERE ((a.fp >> 0) & 65535) = ((b.fp >> 0) & 65535)
        |     OR ((a.fp >> 16) & 65535) = ((b.fp >> 16) & 65535)
        |     OR ((a.fp >> 32) & 65535) = ((b.fp >> 32) & 65535)
        |     OR ((a.fp >> 48) & 65535) = ((b.fp >> 48) & 65535))
        |WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the repr mode replays the SAME fp chain but over distinct
    // normalized texts (rep id = min doc_id, w = copy count) and reports
    // the pair VOLUME (w_a·w_b cross, C(w,2) self) instead of expanding it
    "dedup_simhash_repr" ->
      """WITH uniq AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS w,
        |    trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nt
        |  FROM documents GROUP BY 3),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(nt, ' ')) AS t FROM uniq),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(x) AS HUGEINT) FOR x IN regexp_extract_all(t, '.')]),
        |      (acc, x) -> (acc * 131 + x) % 2305843009213693951) AS BIGINT) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h, (SELECT unnest(range(61)) AS j) GROUP BY 1, 2),
        |f AS (
        |  SELECT v.doc_id, any_value(u.w) AS w,
        |    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
        |  FROM v JOIN uniq u ON v.doc_id = u.doc_id GROUP BY 1)
        |SELECT doc_a, doc_b, hamming, n_pairs FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming,
        |    a.w * b.w AS n_pairs
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id
        |  WHERE ((a.fp >> 0) & 65535) = ((b.fp >> 0) & 65535)
        |     OR ((a.fp >> 16) & 65535) = ((b.fp >> 16) & 65535)
        |     OR ((a.fp >> 32) & 65535) = ((b.fp >> 32) & 65535)
        |     OR ((a.fp >> 48) & 65535) = ((b.fp >> 48) & 65535)
        |  UNION ALL
        |  SELECT doc_id, doc_id, 0, (w * (w - 1)) // 2 FROM f WHERE w >= 2)
        |WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_lsh" -> {
      // the SplitMix64-derived permutation constants inlined as a VALUES
      // table — the oracle replays the exact signature stream (a_j·x + b_j
      // mod 2^61-1 in HUGEINT), the banding fold INCLUDING the 2^20 domain
      // mod (r9: the bound that makes band-ownership emission collectable
      // on the Spark side — replayed here exactly like the permutation
      // constants), the maxDf 1000 bucket cap, and the k/128 agreement
      // estimate, bit for bit. The DISTINCT-over-alive-bands formulation
      // below IS the ownership contract: lowest-alive-band emission yields
      // exactly the set of pairs co-bucketed in ≥1 surviving band.
      s"""WITH $minhashSigCtes,
         |bucket AS (
         |  SELECT band, bh FROM bands GROUP BY band, bh
         |  HAVING count(*) BETWEEN 2 AND 1000),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a
         |  JOIN bucket USING (band, bh)
         |  JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
         |SELECT p.doc_a, p.doc_b,
         |  FLOOR(len(list_filter(range(128),
         |      i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |    / 128.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
         |FROM pairs p
         |JOIN sigs sa ON sa.doc_id = p.doc_a
         |JOIN sigs sb ON sb.doc_id = p.doc_b
         |WHERE len(list_filter(range(128),
         |    i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |  / 128.0 >= 0.5
         |ORDER BY p.doc_a, p.doc_b""".stripMargin
    },
    // the repr mode collapses the doc-level pair set to representative
    // level: rep = min doc_id per normalized text; each surviving group
    // pair carries its constant estimate (sigs are per-unique) and
    // n_pairs = the group's doc-level pair count — the member expansion's
    // volume, reported instead of materialized
    "dedup_minhash_lsh_repr" -> {
      s"""WITH $minhashSigCtes,
         |bucket AS (
         |  SELECT band, bh FROM bands GROUP BY band, bh
         |  HAVING count(*) BETWEEN 2 AND 1000),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a
         |  JOIN bucket USING (band, bh)
         |  JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT p.doc_a, p.doc_b,
         |    FLOOR(len(list_filter(range(128),
         |        i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |      / 128.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
         |  FROM pairs p
         |  JOIN sigs sa ON sa.doc_id = p.doc_a
         |  JOIN sigs sb ON sb.doc_id = p.doc_b
         |  WHERE len(list_filter(range(128),
         |      i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |    / 128.0 >= 0.5),
         |rep AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY
         |    trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS r
         |  FROM documents)
         |SELECT least(ra.r, rb.r) AS doc_a, greatest(ra.r, rb.r) AS doc_b,
         |  min(s.est_jaccard) AS est_jaccard, count(*) AS n_pairs
         |FROM scored s
         |JOIN rep ra ON s.doc_a = ra.doc_id
         |JOIN rep rb ON s.doc_b = rb.doc_id
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // the streaming/batch near-dup GATE as a graded query: incoming = a
    // deterministic id-shifted slice of the corpus (doc_id % 10 = 3,
    // re-identified +900000), flagged against the full corpus. The
    // oracle derives the incoming side's signatures by id-shift from the
    // shared sig chain (same text -> same sig, by the determinism the
    // whole minhash family rests on). `gcap` replays the gate's
    // w-weighted maxDf bucket cap (r17 — previously omitted because no
    // graded-scale bucket approaches it, which made the oracle silently
    // uncapped: at a scale where the cap engages, Spark drops pairs whose
    // every shared bucket is dead and the capless oracle would not —
    // a latent hash mismatch, found and closed by the r17 low-cap
    // verification). count(*) over the doc-level `bands` CTE IS the
    // w-weighted unique count — copies share band hashes. Spark's
    // lowest-ALIVE-band exactly-once emission equals the DISTINCT over
    // pairs co-bucketed in >= 1 surviving bucket.
    "corpus_neardup_gate" ->
      s"""WITH $minhashSigCtes,
         |gcap AS (
         |  SELECT band, bh FROM bands GROUP BY band, bh
         |  HAVING count(*) <= 1000),
         |incb AS (
         |  SELECT doc_id + 900000 AS doc_id, band, bh
         |  FROM bands WHERE doc_id % 10 = 3),
         |gpairs AS (
         |  SELECT DISTINCT i.doc_id, b.doc_id AS corpus_doc_id
         |  FROM incb i JOIN gcap USING (band, bh)
         |  JOIN bands b USING (band, bh))
         |SELECT p.doc_id, p.corpus_doc_id,
         |  FLOOR(len(list_filter(range(128),
         |      i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |    / 128.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
         |FROM gpairs p
         |JOIN sigs sa ON sa.doc_id = p.doc_id - 900000
         |JOIN sigs sb ON sb.doc_id = p.corpus_doc_id
         |WHERE len(list_filter(range(128),
         |    i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |  / 128.0 >= 0.5
         |ORDER BY p.doc_id, p.corpus_doc_id""".stripMargin,
    // the REPRESENTATIVE-level gate: collapse the pair set per incoming
    // doc — rep = first corpus member under (est DESC, id ASC), which is
    // the min member of the best-estimate group = that group's
    // representative id (a rep IS its group's minimum member); count =
    // the pair mode's per-doc row count
    "corpus_neardup_gate_repr" ->
      s"""WITH $minhashSigCtes,
         |gcap AS (
         |  SELECT band, bh FROM bands GROUP BY band, bh
         |  HAVING count(*) <= 1000),
         |incb AS (
         |  SELECT doc_id + 900000 AS doc_id, band, bh
         |  FROM bands WHERE doc_id % 10 = 3),
         |gpairs AS (
         |  SELECT DISTINCT i.doc_id, b.doc_id AS corpus_doc_id
         |  FROM incb i JOIN gcap USING (band, bh)
         |  JOIN bands b USING (band, bh)),
         |flags AS (
         |  SELECT p.doc_id, p.corpus_doc_id,
         |    FLOOR(len(list_filter(range(128),
         |        i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |      / 128.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
         |  FROM gpairs p
         |  JOIN sigs sa ON sa.doc_id = p.doc_id - 900000
         |  JOIN sigs sb ON sb.doc_id = p.corpus_doc_id
         |  WHERE len(list_filter(range(128),
         |      i -> sa.sig[CAST(i + 1 AS INTEGER)] = sb.sig[CAST(i + 1 AS INTEGER)]))
         |    / 128.0 >= 0.5)
         |SELECT doc_id, corpus_rep, n_corpus_matches, est_jaccard FROM (
         |  SELECT doc_id, corpus_doc_id AS corpus_rep, est_jaccard,
         |    row_number() OVER (
         |      PARTITION BY doc_id ORDER BY est_jaccard DESC, corpus_doc_id) AS rn,
         |    count(*) OVER (PARTITION BY doc_id) AS n_corpus_matches
         |  FROM flags) t
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // connected components over the ngram-jaccard near-dup graph: the
    // oracle computes the exact transitive closure (recursive CTE over the
    // symmetric edge list) and takes min-reachable-id per node — the same
    // contract the iterative min-label propagation converges to
    "dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // decontamination oracle replays the 8-gram overlap on STRING grams
    // (the Spark side uses 61-bit rolling-hash folds; fold equality ≡
    // string equality, same contract the jaccard oracles verify)
    "corpus_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3] || ' ' ||
        |     s[i+4] || ' ' || s[i+5] || ' ' || s[i+6] || ' ' || s[i+7]
        |     FOR i IN range(1, len(s) - 6)]) AS grams
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)
        |  WHERE len(s) >= 8),
        |g AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS gram FROM sh),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
        |SELECT doc_id, count(*) AS n_hit,
        |  FLOOR(count(*) / CAST(n_sh AS DOUBLE) * 10000 + 0.5) / 10000.0 AS hit_frac
        |FROM g JOIN ev USING (gram)
        |WHERE doc_id % 7 <> 0
        |GROUP BY doc_id, n_sh ORDER BY doc_id""".stripMargin,
    // keep-best: cluster replay + quality replay + per-cluster argmax
    // (quality is on the 4dp grid on both sides, so the argmax — and
    // therefore every keep bit — is engine-independent)
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a),
         |q AS (
         |  SELECT doc_id,
         |    FLOOR((0.5 * least(1.0, len(toks) / 60.0)
         |        + 0.3 * (1.0 - n_stop / CAST(len(toks) AS DOUBLE))
         |        + 0.2 * least(1.0, (length(text) / CAST(len(toks) AS DOUBLE)) / 8.0))
         |      * 10000 + 0.5) / 10000.0 AS quality
         |  FROM (
         |    SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         |      len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         |        t -> list_contains(['the','a','and','of','to','in','is','it'], t))) AS n_stop
         |    FROM documents)),
         |j AS (
         |  SELECT q.doc_id, coalesce(cl.cluster_id, q.doc_id) AS cluster_id, q.quality
         |  FROM q LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id, quality,
         |  CASE WHEN row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1
         |  THEN 1 ELSE 0 END AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
    // the LSH STORE search replayed end to end: the store's 8-plane
    // signatures, the query margins, the flip-cost-ordered multi-probe
    // set (budget = the hamming<=2 ball, ties by bucket id), and the
    // exact top-k over the probed buckets — all from the same inlined
    // plane constants. Margin sums accumulate left-to-right in plane
    // order on both sides, so the probe SET (not just the result) is
    // engine-independent.
    "lsh_search" -> lshStoreOracleSql(extraFilter = ""),
    "lsh_filtered_json" -> lshStoreOracleSql(
      extraFilter = "AND d.lang = 'en'"),
    // the IVF family replayed end to end: the fixed-point k-means of
    // ivfModelCtes reaches bit-identical centroids (integer sums carry no
    // accumulation-order dependence), so the build assignment, the probe
    // set, and the pruned top-k are all engine-independent.
    "ivf_build" ->
      s"""WITH $ivfModelCtes
         |SELECT e.vec_id, e.label, f.cid AS centroid_id,
         |  ROUND(sqrt(CAST(f.dd AS DOUBLE)) / 1048576.0, 4) AS dist
         |FROM fa f JOIN embeddings e USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,
    "ivf_search" -> ivfStoreOracleSql(
      docJoin = "", extraFilter = "",
      tail = """SELECT vec_id, label, centroid_id, score FROM cand
               |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),
    "knn_filtered_ivf" -> ivfStoreOracleSql(
      docJoin = "", extraFilter = "AND e.label = 3",
      tail = """SELECT vec_id, label, centroid_id, score FROM cand
               |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),
    "knn_filtered_ivf_json" -> ivfStoreOracleSql(
      docJoin = "JOIN documents d ON e.vec_id = d.doc_id",
      extraFilter = "AND d.lang = 'en'",
      tail = """SELECT vec_id, label, centroid_id, score FROM cand
               |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),
    "knn_threshold_ivf" -> ivfStoreOracleSql(
      docJoin = "", extraFilter = "",
      tail = """SELECT vec_id, label, centroid_id, score FROM cand
               |WHERE score >= 0.2
               |ORDER BY score DESC, vec_id""".stripMargin),
    // batch-through-the-index: per-query probe sets from the replayed
    // centroids, assignment-restricted scoring, per-query rank tail
    "knn_batch_ivf" ->
      (s"WITH $ivfModelCtes,\n" + batchIvfCtes + "\n" +
        """SELECT query_id, vec_id, score, rank FROM (
          |  SELECT query_id, vec_id, score,
          |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          |  FROM sc) WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    "knn_batch_lsh" ->
      (s"WITH ${batchLshCtes}\n" +
        """SELECT query_id, vec_id, score, rank FROM (
          |  SELECT query_id, vec_id, score,
          |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          |  FROM sc) WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    // per-query generalization of the knn_pq replay: the trained-codebook
    // chain is shared, each query contributes its own LUT, the per-query
    // fetchK=100 ADC window replays the TopKAgg candidate heap, and the
    // exact re-rank runs per (query, candidate)
    "knn_batch_pq" ->
      (s"WITH $pqModelCtes,\n" + batchPqCtes + "\n" +
        """SELECT query_id, vec_id, score, rank FROM (
          |  SELECT query_id, vec_id, score,
          |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          |  FROM sc) WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    // batch IVF-PQ through the store's persisted codes: the unprefixed
    // chain trains the coarse centroids (per-query probe sets + the
    // store's partition assignment `fa`), the p-prefixed chain trains the
    // subspace codebooks (the store's codes column `pfa`); per-query ADC
    // runs only over vectors whose partition is in the query's probe set,
    // then the per-query fetchK=50 window and the exact re-rank
    "knn_batch_ivf_pq" ->
      (s"WITH $ivfModelCtes,\n" + pqIterCtes("p") + ",\n" + batchIvfPqCtes + "\n" +
        """SELECT query_id, vec_id, score, rank FROM (
          |  SELECT query_id, vec_id, score,
          |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
          |  FROM sc) WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    // recall@k of the composed IVF-PQ batch probe vs the exact batch scan
    // — the production configuration's health check (both loss mechanisms:
    // coarse pruning AND quantization mis-ranking)
    "ann_eval_ivf_pq" ->
      (s"WITH $ivfModelCtes,\n" + pqIterCtes("p") + ",\n" + batchIvfPqCtes +
        ",\n" + recallOracleTail),
    // recall@k of the ADC-ranked PQ batch probe vs the exact batch scan —
    // the codebook-fit health check, completing the eval surface across
    // all three index families
    "ann_eval_pq" ->
      (s"WITH $pqModelCtes,\n" + batchPqCtes + ",\n" +
        recallOracleTail),
    // recall@k of the multi-probe LSH batch probe vs the exact batch scan
    "ann_eval_lsh" ->
      (s"WITH ${batchLshCtes},\n" +
        recallOracleTail),
    // recall@k of the pruned batch probe vs the exact batch scan, as data
    "ann_eval" ->
      (s"WITH $ivfModelCtes,\n" + batchIvfCtes + ",\n" +
        recallOracleTail),
    // the store-health report (r18; PQ half r19): ann_eval's recall
    // replay with the health probe's SELF-INCLUSIVE contract (the
    // queries ARE store rows — no query/candidate exclusion on either
    // side), judged for BOTH serving configs — the plain pruned probe
    // AND the quantized IVF-PQ probe (per-query integer ADC LUT over
    // the store's codes, fetchK=50 window, exact re-rank) — closed with
    // the floor verdict and the remedy literal. The rounded means drive
    // the verdict on both sides, so Spark and DuckDB flip healthy at
    // exactly the same corpus.
    "store_health" ->
      (s"WITH $ivfModelCtes,\n" + pqIterCtes("p") + ",\n" +
        """qd AS (
          |  SELECT e.vec_id AS query_id, c.cid, sum((c.cq - e.q) * (c.cq - e.q)) AS dd
          |  FROM eq e JOIN c5 c USING (dim)
          |  WHERE e.vec_id < 5 GROUP BY 1, 2),
          |qprobes AS (
          |  SELECT query_id, cid FROM (
          |    SELECT query_id, cid,
          |      row_number() OVER (PARTITION BY query_id ORDER BY dd, cid) AS rn
          |    FROM qd) WHERE rn <= 4),
          |sc AS (
          |  SELECT p.query_id, e.vec_id,
          |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
          |  FROM fa f
          |  JOIN qprobes p ON f.cid = p.cid
          |  JOIN embeddings e ON e.vec_id = f.vec_id
          |  JOIN embeddings q ON q.vec_id = p.query_id),
          |ap AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          |    FROM sc) WHERE rn <= 5),
          |ex AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          |    FROM (
          |      SELECT q.vec_id AS query_id, e.vec_id,
          |        ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
          |      FROM embeddings e CROSS JOIN embeddings q
          |      WHERE q.vec_id < 5))
          |  WHERE rn <= 5),
          |h AS (
          |  SELECT ex.query_id, count(*) AS n_hit
          |  FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1),
          |pr AS (
          |  SELECT q.query_id, coalesce(h.n_hit, 0) / 5.0 AS recall
          |  FROM (SELECT DISTINCT query_id FROM ex) q LEFT JOIN h USING (query_id)),
          |agg AS (
          |  SELECT count(*) AS n_queries,
          |    FLOOR(avg(recall) * 10000 + 0.5) / 10000.0 AS mean_recall,
          |    FLOOR(min(recall) * 10000 + 0.5) / 10000.0 AS min_recall
          |  FROM pr),
          |plut AS (
          |  SELECT q.query_id, c.dim // 8 AS sub, c.cid, CAST(sum(q.q * c.cq) AS BIGINT) AS ip
          |  FROM pc5 c JOIN (SELECT vec_id AS query_id, dim, q FROM eq WHERE vec_id < 5) q USING (dim)
          |  GROUP BY 1, 2, 3),
          |padc AS (
          |  SELECT l.query_id, f.vec_id, CAST(sum(l.ip) AS BIGINT) AS adc
          |  FROM pfa f JOIN plut l ON l.sub = f.sub AND l.cid = f.cid
          |  JOIN fa iv ON iv.vec_id = f.vec_id
          |  JOIN qprobes p ON p.query_id = l.query_id AND p.cid = iv.cid
          |  GROUP BY 1, 2),
          |pcand AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
          |    FROM padc) WHERE rn <= 50),
          |psc AS (
          |  SELECT c.query_id, c.vec_id,
          |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
          |  FROM pcand c JOIN embeddings e USING (vec_id)
          |  JOIN embeddings q ON q.vec_id = c.query_id),
          |app AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          |    FROM psc) WHERE rn <= 5),
          |hp AS (
          |  SELECT ex.query_id, count(*) AS n_hit
          |  FROM ex JOIN app USING (query_id, vec_id) GROUP BY 1),
          |prp AS (
          |  SELECT q.query_id, coalesce(hp.n_hit, 0) / 5.0 AS recall
          |  FROM (SELECT DISTINCT query_id FROM ex) q LEFT JOIN hp USING (query_id)),
          |aggp AS (
          |  SELECT FLOOR(avg(recall) * 10000 + 0.5) / 10000.0 AS mean_recall_pq,
          |    FLOOR(min(recall) * 10000 + 0.5) / 10000.0 AS min_recall_pq
          |  FROM prp)
          |SELECT n_queries, 5 AS k, 4 AS nprobe, mean_recall, min_recall,
          |  mean_recall_pq, min_recall_pq,
          |  CAST(0.8 AS DOUBLE) AS recall_floor,
          |  (mean_recall >= 0.8 AND mean_recall_pq >= 0.8) AS healthy,
          |  CASE WHEN mean_recall >= 0.8 AND mean_recall_pq >= 0.8 THEN 'none'
          |       ELSE 'compactStore(retrain = true)' END AS recommendation
          |FROM agg, aggp""".stripMargin),
    // the PQ family replayed end to end: per-subspace fixed-point Lloyd
    // (pqModelCtes), then — for the search — the integer ADC LUT and the
    // exact re-rank of the top-fetchK candidates
    "pq_build" ->
      s"""WITH $pqModelCtes
         |SELECT vec_id, CAST(sub AS INTEGER) AS sub, CAST(cid AS INTEGER) AS code
         |FROM pfa
         |ORDER BY vec_id, sub""".stripMargin,
    "knn_pq" ->
      s"""WITH $pqModelCtes,
         |qq AS (SELECT dim, q FROM eq WHERE vec_id = 0),
         |lut AS (
         |  SELECT c.dim // 8 AS sub, c.cid, CAST(sum(q.q * c.cq) AS BIGINT) AS ip
         |  FROM pc5 c JOIN qq q USING (dim) GROUP BY 1, 2),
         |adc AS (
         |  SELECT f.vec_id, CAST(sum(l.ip) AS BIGINT) AS adc
         |  FROM pfa f JOIN lut l ON l.sub = f.sub AND l.cid = f.cid
         |  WHERE f.vec_id <> 0 GROUP BY 1),
         |cand AS (SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 100),
         |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, c.adc,
         |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v), 4) AS score
         |FROM cand c JOIN embeddings e USING (vec_id), qv
         |ORDER BY score DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    // IVF-PQ composed end to end: the unprefixed chain trains the coarse
    // centroids (probe set + the store's partition assignment `fa`), the
    // p-prefixed chain trains the subspace codebooks; ADC ranks only the
    // vectors whose partition is probed, then the exact re-rank
    "knn_ivf_pq" ->
      s"""WITH $ivfModelCtes,
         |${pqIterCtes("p")},
         |qq AS (SELECT dim, q FROM eq WHERE vec_id = 0),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, sum((c.cq - q.q) * (c.cq - q.q)) AS dd
         |    FROM c5 c JOIN qq q USING (dim) GROUP BY 1)
         |  ORDER BY dd, cid LIMIT 4),
         |lut AS (
         |  SELECT c.dim // 8 AS sub, c.cid, CAST(sum(q.q * c.cq) AS BIGINT) AS ip
         |  FROM pc5 c JOIN qq q USING (dim) GROUP BY 1, 2),
         |adc AS (
         |  SELECT f.vec_id, CAST(sum(l.ip) AS BIGINT) AS adc
         |  FROM pfa f JOIN lut l ON l.sub = f.sub AND l.cid = f.cid
         |  JOIN fa iv ON iv.vec_id = f.vec_id
         |  WHERE iv.cid IN (SELECT cid FROM probes) AND f.vec_id <> 0
         |  GROUP BY 1),
         |cand AS (SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 50),
         |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, c.adc,
         |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v), 4) AS score
         |FROM cand c JOIN embeddings e USING (vec_id), qv
         |ORDER BY score DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    // the store-probed MMR: fetchK=50 candidates from the probed
    // partitions, then the same recursive-CTE greedy replay as knn_mmr
    // (diversity on the 1e-4 grid, argmax ties to the better-ranked
    // candidate)
    "knn_mmr_ivf" -> ivfStoreOracleSql(
      docJoin = "", extraFilter = "", tail = mmrStoreTail),
    // the same greedy replay over the LSH chain: flip-cost multi-probe
    // candidate set (identical to lsh_search's), fetchK=50 window, then
    // the shared recursive-CTE re-rank
    "knn_mmr_lsh" -> lshStoreOracleSql(
      extraFilter = "", tail = mmrStoreTail),
    // threshold mode over the same probed candidate set: all hits >= 0.2,
    // no k — the LSH twin of knn_threshold_ivf's tail
    "knn_threshold_lsh" -> lshStoreOracleSql(
      extraFilter = "",
      tail = """SELECT vec_id, label, bucket, score FROM cand
               |WHERE score >= 0.2
               |ORDER BY score DESC, vec_id""".stripMargin),
    // the hyperplanes are deterministic model state (SplitMix64, seed 7),
    // so they inline as DOUBLE list literals (float→double is exact and
    // Scala's shortest-round-trip repr parses back bit-identically) and
    // the oracle recomputes every signature: bit i = dot(emb, plane_i)>0,
    // with list_inner_product's sequential double accumulation matching
    // the native expression's loop order. Verified hash-exact at
    // sf0.001/0.01/0.1.
    "lsh_bucket" -> {
      val planes = graft.functions.IndexOps.hyperplanes(16, 64)
      val sigTerms = planes.zipWithIndex.map { case (p, i) =>
        val lst = p.map(v => v.toDouble.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lst) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n    + ")
      s"""SELECT bucket, count(*) AS n_vectors FROM (
         |  SELECT $sigTerms AS bucket FROM embeddings)
         |GROUP BY bucket ORDER BY bucket""".stripMargin
    },
    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_embedding_lsh" -> {
      // sign-LSH band signatures replicated bit-for-bit: band b's sig is
      // the 8 sign bits of coordinates [b*8, b*8+8) of the STORED float —
      // integer-exact in both engines (DuckDB lists are 1-based).
      val sigTerms = (1 to 8)
        .map(k => s"(CASE WHEN embedding[band * 8 + $k] > 0 THEN ${1 << (k - 1)} ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH s AS (
         |  SELECT vec_id, band,
         |    $sigTerms AS sig
         |  FROM embeddings, (SELECT unnest(range(8)) AS band)),
         |bs AS (
         |  SELECT band, sig FROM s GROUP BY band, sig HAVING count(*) <= 1000),
         |c AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM s a
         |  JOIN bs ON bs.band = a.band AND bs.sig = a.sig
         |  JOIN s b2 ON a.band = b2.band AND a.sig = b2.sig AND a.vec_id < b2.vec_id)
         |SELECT c.id_a, c.id_b,
         |  ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
         |FROM c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },
    // the repr mode collapses the doc-level pair set to representative
    // level: rep = min vec_id per embedding VALUE (the vector family's
    // unique key); constant cosine per group, n_pairs = group pair count
    "dedup_embedding_lsh_repr" -> {
      val sigTerms = (1 to 8)
        .map(k => s"(CASE WHEN embedding[band * 8 + $k] > 0 THEN ${1 << (k - 1)} ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH s AS (
         |  SELECT vec_id, band,
         |    $sigTerms AS sig
         |  FROM embeddings, (SELECT unnest(range(8)) AS band)),
         |bs AS (
         |  SELECT band, sig FROM s GROUP BY band, sig HAVING count(*) <= 1000),
         |c AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM s a
         |  JOIN bs ON bs.band = a.band AND bs.sig = a.sig
         |  JOIN s b2 ON a.band = b2.band AND a.sig = b2.sig AND a.vec_id < b2.vec_id),
         |scored AS (
         |  SELECT c.id_a, c.id_b,
         |    ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
         |  FROM c
         |  JOIN embeddings ea ON ea.vec_id = c.id_a
         |  JOIN embeddings eb ON eb.vec_id = c.id_b
         |  WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4),
         |rep AS (
         |  SELECT vec_id, min(vec_id) OVER (PARTITION BY embedding) AS r
         |  FROM embeddings)
         |SELECT least(ra.r, rb.r) AS id_a, greatest(ra.r, rb.r) AS id_b,
         |  min(s2.cos_sim) AS cos_sim, count(*) AS n_pairs
         |FROM scored s2
         |JOIN rep ra ON s2.id_a = ra.vec_id
         |JOIN rep rb ON s2.id_b = rb.vec_id
         |GROUP BY 1, 2
         |ORDER BY id_a, id_b""".stripMargin
    },
    // the embedding ingest gate replayed from the same sign-LSH chain:
    // incoming = the id-shifted slice, candidates = DISTINCT co-bucketed
    // (incoming, corpus) pairs in alive buckets (no sf0.01 bucket
    // approaches the cap => the lowest-alive-band ownership emission
    // equals the DISTINCT), verify = exact cosine at the gate threshold
    "corpus_embedding_gate" -> {
      val sigTerms = (1 to 8)
        .map(k => s"(CASE WHEN embedding[band * 8 + $k] > 0 THEN ${1 << (k - 1)} ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH s AS (
         |  SELECT vec_id, band,
         |    $sigTerms AS sig
         |  FROM embeddings, (SELECT unnest(range(8)) AS band)),
         |si AS (
         |  SELECT vec_id + 900000 AS vec_id, band, sig
         |  FROM s WHERE vec_id % 10 = 3),
         |bs AS (
         |  SELECT band, sig FROM s GROUP BY band, sig HAVING count(*) <= 1000),
         |c AS (
         |  SELECT DISTINCT i.vec_id AS vec_id, a.vec_id AS corpus_vec_id
         |  FROM si i
         |  JOIN bs ON bs.band = i.band AND bs.sig = i.sig
         |  JOIN s a ON a.band = i.band AND a.sig = i.sig)
         |SELECT c.vec_id, c.corpus_vec_id,
         |  ROUND(list_cosine_similarity(CAST(ei.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])), 4) AS cos_sim
         |FROM c
         |JOIN embeddings ei ON ei.vec_id = c.vec_id - 900000
         |JOIN embeddings ec ON ec.vec_id = c.corpus_vec_id
         |WHERE ROUND(list_cosine_similarity(CAST(ei.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])), 4) >= 0.9
         |ORDER BY c.vec_id, c.corpus_vec_id""".stripMargin
    },
    // the REPRESENTATIVE-level embedding gate — same collapse as
    // corpus_neardup_gate_repr: rep = first corpus member under
    // (cos DESC, id ASC) = the best group's representative; count = the
    // pair mode's per-vector row count
    "corpus_embedding_gate_repr" -> {
      val sigTerms = (1 to 8)
        .map(k => s"(CASE WHEN embedding[band * 8 + $k] > 0 THEN ${1 << (k - 1)} ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH s AS (
         |  SELECT vec_id, band,
         |    $sigTerms AS sig
         |  FROM embeddings, (SELECT unnest(range(8)) AS band)),
         |si AS (
         |  SELECT vec_id + 900000 AS vec_id, band, sig
         |  FROM s WHERE vec_id % 10 = 3),
         |bs AS (
         |  SELECT band, sig FROM s GROUP BY band, sig HAVING count(*) <= 1000),
         |c AS (
         |  SELECT DISTINCT i.vec_id AS vec_id, a.vec_id AS corpus_vec_id
         |  FROM si i
         |  JOIN bs ON bs.band = i.band AND bs.sig = i.sig
         |  JOIN s a ON a.band = i.band AND a.sig = i.sig),
         |flags AS (
         |  SELECT c.vec_id, c.corpus_vec_id,
         |    ROUND(list_cosine_similarity(CAST(ei.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])), 4) AS cos_sim
         |  FROM c
         |  JOIN embeddings ei ON ei.vec_id = c.vec_id - 900000
         |  JOIN embeddings ec ON ec.vec_id = c.corpus_vec_id
         |  WHERE ROUND(list_cosine_similarity(CAST(ei.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])), 4) >= 0.9)
         |SELECT vec_id, corpus_rep, n_corpus_matches, cos_sim FROM (
         |  SELECT vec_id, corpus_vec_id AS corpus_rep, cos_sim,
         |    row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos_sim DESC, corpus_vec_id) AS rn,
         |    count(*) OVER (PARTITION BY vec_id) AS n_corpus_matches
         |  FROM flags) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },
    // the kNN graph replayed from the same banded-signature candidates:
    // undirected scored pairs mirror into both directions, per-source
    // top-3 via row_number under the (score desc, dst) order TopKAgg pins
    "knn_graph" -> {
      val sigTerms = (1 to 8)
        .map(k => s"(CASE WHEN embedding[band * 8 + $k] > 0 THEN ${1 << (k - 1)} ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH s AS (
         |  SELECT vec_id, band,
         |    $sigTerms AS sig
         |  FROM embeddings, (SELECT unnest(range(8)) AS band)),
         |bs AS (
         |  SELECT band, sig FROM s GROUP BY band, sig HAVING count(*) <= 1000),
         |c AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM s a
         |  JOIN bs ON bs.band = a.band AND bs.sig = a.sig
         |  JOIN s b2 ON a.band = b2.band AND a.sig = b2.sig AND a.vec_id < b2.vec_id),
         |sc AS (
         |  SELECT c.id_a, c.id_b,
         |    ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) AS score
         |  FROM c
         |  JOIN embeddings ea ON ea.vec_id = c.id_a
         |  JOIN embeddings eb ON eb.vec_id = c.id_b),
         |d AS (
         |  SELECT id_a AS src, id_b AS dst, score FROM sc
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst, score FROM sc)
         |SELECT src, CAST(rn AS INTEGER) AS rank, dst, score FROM (
         |  SELECT src, dst, score,
         |    row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rn
         |  FROM d) WHERE rn <= 3
         |ORDER BY src, rank""".stripMargin
    },
    "mm_dedup" ->
      """WITH hsh AS (
        |  SELECT doc_id, md5(text) AS content_md5 FROM documents),
        |g AS (
        |  SELECT content_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM hsh GROUP BY 1)
        |SELECT hsh.doc_id, hsh.content_md5, g.keep_id, g.n_copies,
        |  hsh.doc_id = g.keep_id AS keep
        |FROM hsh JOIN g USING (content_md5)
        |ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  substring(hex(encode(text)), 1, 8) AS magic,
        |  CAST(16 * (1 + octet_length(encode(text)) % 64) AS INTEGER) AS width,
        |  CAST(16 * (1 + (octet_length(encode(text)) // 64) % 64) AS INTEGER) AS height,
        |  CAST(1 + octet_length(encode(text)) % 30 AS INTEGER) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mm_meta_real's oracle predicts the TRUE raster geometry of the
    // in-pipeline-encoded PNG/BMP containers: a hash match means the real
    // javax.imageio decode parsed every container to its exact written
    // geometry (decode failure yields a zero-geometry row -> mismatch).
    "mm_meta_real" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |  CAST(16 + (doc_id % 13) * 3 AS INTEGER) AS width,
        |  CAST(9 + (doc_id % 7) * 5 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS frames,
        |  TRUE AS magic_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // decode -> resize composed on real bytes: plan geometry from the
    // REAL decoded raster (doc_id-derived sizes, like mm_meta_real)
    "mm_resize_real" ->
      """SELECT doc_id, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height,
        |  CAST(greatest(1, width * scale_bp // 10000) AS INTEGER) AS target_w,
        |  CAST(greatest(1, height * scale_bp // 10000) AS INTEGER) AS target_h,
        |  CAST(scale_bp AS INTEGER) AS scale_pct
        |FROM (
        |  SELECT doc_id, width, height,
        |    least(10000, 10000 * 224 // greatest(width, height)) AS scale_bp
        |  FROM (
        |    SELECT doc_id,
        |      16 + (doc_id % 13) * 3 AS width,
        |      9 + (doc_id % 7) * 5 AS height
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST((n_bytes * 131 + frame_idx) % 256 AS INTEGER) AS brightness
        |FROM (
        |  SELECT DISTINCT doc_id, n_bytes, (j * frames) // 4 AS frame_idx
        |  FROM (
        |    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |      1 + octet_length(encode(text)) % 30 AS frames
        |    FROM documents),
        |    (SELECT unnest(range(4)) AS j))
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // mm_frames_real's oracle predicts the frame count, the uniform
    // sample indices, and the per-frame raster geometry of the
    // in-pipeline-encoded ANIMATED GIFs from doc_id arithmetic: a hash
    // match means the real javax.imageio reader parsed every container's
    // frame directory (getNumImages) and each sampled frame's raster
    // (decode failure yields a zero-geometry row -> mismatch).
    "mm_frames_real" ->
      """SELECT doc_id, CAST(n_frames AS INTEGER) AS n_frames,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(12 + (doc_id % 11) * 2 AS INTEGER) AS width,
        |  CAST(8 + (doc_id % 5) * 3 AS INTEGER) AS height
        |FROM (
        |  SELECT DISTINCT doc_id, n_frames, (j * n_frames) // 4 AS frame_idx
        |  FROM (
        |    SELECT doc_id, 1 + doc_id % 7 AS n_frames FROM documents),
        |    (SELECT unnest(range(4)) AS j))
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height,
        |  CAST(greatest(1, width * scale_bp // 10000) AS INTEGER) AS target_w,
        |  CAST(greatest(1, height * scale_bp // 10000) AS INTEGER) AS target_h,
        |  CAST(scale_bp AS INTEGER) AS scale_pct
        |FROM (
        |  SELECT doc_id, width, height,
        |    least(10000, 10000 * 224 // greatest(width, height)) AS scale_bp
        |  FROM (
        |    SELECT doc_id,
        |      16 * (1 + octet_length(encode(text)) % 64) AS width,
        |      16 * (1 + (octet_length(encode(text)) // 64) % 64) AS height
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,
  )
}

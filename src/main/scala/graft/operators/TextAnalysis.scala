package graft.operators

import graft.{SessionState, Tables}
import graft.SessionState.key
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline over `documents`
  * (the corpus the reference's vector store indexes; /root/reference/app.py
  * stores `(id, text, metadata)` rows — these ops are the corpus-side QA a
  * 100 TB ingest needs before embedding).
  *
  * All map-only: one codegen'd pass per document, no shuffle. Formulas are
  * expressed with built-in higher-order functions (codegen'd) so they are
  * reproducible 1:1 in the DuckDB oracle.
  */
object TextAnalysis {

  /** Token counts: whitespace tokens, punctuation-aware alnum tokens,
    * distinct alnum tokens. */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("n_tokens"),
      size(array_distinct(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")))
        .as("n_uniq_tokens"))

  /** GPT-2-style pre-tokenization pattern, restricted to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB): no
    * lookarounds, leftmost-first alternation — contractions, optionally
    * space-prefixed letter/digit/punctuation runs, whitespace runs. */
  private val bpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9']+|[ ]+"

  /** BPE-ish token statistics: counts under the GPT-2-style pre-tokenizer —
    * the `n_tokens ≈ LLM cost` estimate a training-data pipeline budgets
    * with (an actual BPE merge table is model-specific; the pre-tokenizer
    * split is the deterministic, model-free part). Map-only scan. */
  def tokensBpe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
        .as("n_bpe_tokens"),
      size(array_distinct(
        regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0))))
        .as("n_uniq_bpe_tokens"))

  /** The ONE stop list: the quality score here and CleanCorpus's replay
    * of it must count the same words or the two scores silently
    * diverge. */
  private[operators] val stopwords =
    Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** 4-dp rounding as explicit double ops: `floor(x·10⁴ + 0.5) / 10⁴`.
    * Spark's `round` goes through BigDecimal on the shortest decimal
    * representation while DuckDB's multiplies in binary double — for raw
    * values a hair below a half boundary (0.48124999999999996·10⁴ snaps to
    * exactly 4812.5) the two disagree. Spelling the rounding out as the same
    * IEEE ops on both sides makes the engines bit-identical by construction. */
  private[graft] def round4(c: Column): Column =
    floor(c * lit(10000) + lit(0.5)) / lit(10000.0)

  /** Quality score: length, mean token length, stopword ratio →
    * weighted score in [0,1]. The exact formula is arbitrary but fixed;
    * the DuckDB oracle reproduces it term for term. */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    // UNIQUE-FIRST over BYTE-identical texts (r12): the whole stat row
    // is a pure function of the payload, and n_chars reads the RAW
    // length — which the dedup normalization folds — so the exact-text
    // table is the sound collapse (the chunk_search precedent); the
    // per-unique row expands to members by one id join.
    val u = CorpusOps.exactUniqueDocs(spark, sfDir)
      .select(col("uid"), col("text"))
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop",
        graft.functions.TextFunctions.markerCounts(
          col("toks"), Seq(stopwords)).getItem(0))
      .select(
        col("uid"),
        length(col("text")).as("n_chars"),
        col("n_tokens"),
        round4(col("n_stop") / col("n_tokens")).as("stop_ratio"),
        round4(
          lit(0.5) * least(lit(1.0), col("n_tokens") / lit(60.0)) +
          lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tokens")) +
          lit(0.2) * least(lit(1.0),
            (length(col("text")) / col("n_tokens")) / lit(8.0)))
          .as("quality"))
    CorpusOps.exactUniqueMembers(spark, sfDir)
      .join(u, "uid")
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("stop_ratio"), col("quality"))
  }

  /** Stopword-marker language ID. Scores each candidate language by marker
    * hits and takes the argmax (fixed en>de>fr>es>zh tie order). Determinism,
    * not linguistic accuracy, is the contract — the corpus is synthetic. */
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "small", "big"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "hao"))

  def langid(spark: SparkSession, sfDir: String): DataFrame = {
    // UNIQUE-FIRST (r12): marker counts and the argmax verdict are
    // functions of the payload — compute per byte-distinct text (the
    // same table quality uses), expand to members by id last
    val base = CorpusOps.exactUniqueDocs(spark, sfDir)
      .select(col("uid"), col("text"))
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    // all five marker sets count in ONE codegen'd token pass (native
    // MarkerCounts expression) — the previous per-language
    // filter/array_contains formulation ran 5 interpreted HOF passes and
    // measured 12× the single-pass quality scan at sf100
    val scored = base
      .withColumn("mc",
        graft.functions.TextFunctions.markerCounts(
          col("toks"), langMarkers.map(_._2)))
      .select(
        col("uid") +: langMarkers.zipWithIndex.map {
          case ((lang, _), i) => col("mc").getItem(i).as(s"c_$lang")
        }: _*)
    val langs = langMarkers.map(_._1)
    // first max in fixed order = deterministic argmax
    val pred = langs.tail.foldLeft(
      when(langs.tail.map(l => col("c_en") >= col(s"c_$l")).reduce(_ && _), "en")) {
      case (acc, lang) =>
        val others = langs.filterNot(_ == lang)
        acc.when(others.map(o => col(s"c_$lang") >= col(s"c_$o"))
          .reduce(_ && _), lang)
    }
    CorpusOps.exactUniqueMembers(spark, sfDir)
      .join(scored, "uid")
      .select(
        col("doc_id") +: langs.map(l => col(s"c_$l")) :+ pred.as("pred_lang"): _*)
  }

  /** 61-bit polynomial rolling-hash fingerprint per document (native
    * codegen expression; one scan, no shuffle). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextFunctions.polyFingerprint(col("text")).as("fingerprint"))

  /** Hashing-trick text featurizer — the deterministic stand-in for the
    * reference's query-embedding stage (app.py:118 embeds the query text
    * before searching; an LLM featurizer is out of engine scope, a
    * feature-hashing one is not). Each token's 61-bit polynomial hash
    * picks a bucket (`hash mod dim`) and a ±1 sign (bit 6), signed counts
    * sum per bucket, and the per-document L2 normalization makes the
    * output directly consumable by the cosine search operators — closing
    * the text → vector → search path inside the pipeline. Output is the
    * sparse (doc_id, dim, weight, unit_weight) layout; integer weights
    * keep the oracle comparison exact, and the normalized column uses the
    * explicit-floor 4-dp rounding shared with the oracle.
    *
    * Scale shape: one codegen'd scan + explode, one partial-aggregated
    * shuffle keyed by (doc_id, dim), and a doc-keyed window for the norm —
    * the same key prefix, so no extra exchange. */
  /** Per-document dense weight vector: each slot holds (signed count,
    * touched-token count) accumulated by the native [[graft.functions
    * .HashingFeaturize]] expression in one O(tokens) imperative pass —
    * one codegen'd MAP-ONLY scan, no explode, no shuffle. This replaces
    * the "explode tokens → groupBy (doc, dim)" formulation: the per-doc
    * vector is bounded (dim slots), so accumulating it inside the row
    * beats shuffling every token. (A SQL higher-order fold expresses the
    * same thing but is O(tokens·dim) with an allocation per token —
    * measured 2.5× slower than the shuffle it replaced, which is what
    * justified the custom expression.) */
  private def denseWeights(spark: SparkSession, sfDir: String, dim: Int): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        transform(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"),
          t => TextFunctions.polyFingerprint(t)).as("hs"))
      .select(col("doc_id"),
        TextFunctions.hashingFeaturize(col("hs"), dim).as("ws"))

  def featurize(spark: SparkSession, sfDir: String, dim: Int = 64): DataFrame = {
    // UNIQUE-FIRST (r12): the dense weight vector, its norm, and the
    // per-dimension explosion are all functions of the
    // normalization-stable token stream, so the regexp/hash/normalize
    // work — formerly the whole scan — runs once per DISTINCT text. The
    // exploded per-unique rows (≤ dim per unique, skinny) member-expand
    // through one id join; the output volume, the true cost of this
    // operator at scale, is unchanged, and so is every value (the
    // per-dim weights and the norm ride the join verbatim).
    val uw = Dedup.uniqueDocs(spark, sfDir)
      .select(col("doc_id").as("uid"),
        transform(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"),
          t => TextFunctions.polyFingerprint(t)).as("hs"))
      .select(col("uid"), TextFunctions.hashingFeaturize(col("hs"), dim).as("ws"))
      .select(col("uid"),
        expr("aggregate(ws, 0L, (s, x) -> s + x.w * x.w)").as("norm2"),
        posexplode(col("ws")).as(Seq("dim", "s")))
      .where(col("s.n") > 0)
      .select(col("uid"), col("dim").cast("int").as("dim"),
        col("s.w").as("weight"),
        round4(when(col("norm2") > 0,
          col("s.w") / sqrt(col("norm2").cast("double"))).otherwise(lit(0.0)))
          .as("unit_weight"))
    Dedup.uniqueMembers(spark, sfDir)
      .join(uw, "uid")
      .select(col("doc_id"), col("dim"), col("weight"), col("unit_weight"))
  }

  /** End-to-end text retrieval inside the pipeline: featurize the query
    * text ([[featurize]]'s hashing-trick vector, stood in by document
    * `queryDocId`'s features), then rank the corpus by cosine over the
    * hashed feature space. The numeric core is EXACT-integer: raw signed
    * bucket counts dot-multiply (no float order sensitivity), and the only
    * float ops are one sqrt + one division per document from those exact
    * integers — so the DuckDB oracle is bit-identical by construction.
    *
    * Scale shape: the query's sparse weights are a literal map broadcast
    * in the task closure (query parameter, like the kNN query vector); the
    * corpus side is the featurize aggregation followed by a per-doc dot —
    * one keyed shuffle, no join against the query. */
  def textSearch(
      spark: SparkSession,
      sfDir: String,
      k: Int = 10,
      queryDocId: Long = 0L,
      dim: Int = 64): DataFrame = {
    val (qDense, qNorm2) = queryWeights(spark, sfDir, queryDocId, dim)
    textSearchByVector(spark, sfDir, qDense, qNorm2, k, queryDocId, dim)
  }

  /** The query document's dense hashed weight vector + its squared norm —
    * the reference's `embed_query` stage (app.py:118) as a standalone
    * eagerly-evaluated step, shared by [[textSearch]] / [[chunkSearch]]
    * (which used to duplicate it) and timed on its own by
    * [[RagContext.searchMetrics]]. Driver-side state by design: one
    * dim-length vector, a query parameter like the kNN query vector. */
  private[graft] def queryWeights(
      spark: SparkSession,
      sfDir: String,
      queryDocId: Long,
      dim: Int): (Array[Long], Long) = {
    // cached per (corpus, query doc, dim) like the kNN query vector
    // (r20): the vector is a query PARAMETER — one dim-length array —
    // and every text_search / chunk_search / search_metrics / rag_* call
    // re-paid a one-row Spark job to re-derive it
    SessionState.getOrBuild(key("queryweights", sfDir, queryDocId, dim)) {
      val qDense: Array[Long] = denseWeights(spark, sfDir, dim)
        .where(col("doc_id") === queryDocId)
        .select(expr("transform(ws, x -> x.w)")).head()
        .getSeq[Long](0).toArray
      (qDense, qDense.map(v => v * v).sum)
    }
  }

  /** [[textSearch]] from an already-built query vector — the reference's
    * `similarity_search_by_vector_with_score` boundary (app.py:124): the
    * embed stage hands its vector to the search stage. */
  private[graft] def textSearchByVector(
      spark: SparkSession,
      sfDir: String,
      qDense: Array[Long],
      qNorm2: Long,
      k: Int = 10,
      excludeDocId: Long = 0L,
      dim: Int = 64): DataFrame = {
    val qv = typedLit(qDense)
    // UNIQUE-FIRST (r12): the hashed weight vector is a function of the
    // lower-alnum token stream, which the dedup normalization preserves
    // (it folds only case and whitespace, which the tokenizer ignores) —
    // so the exact-integer dot and norm compute once per DISTINCT text
    // and members join by id BEFORE the top-k. The expansion rows are
    // skinny (id, score) and the k-selection (score desc, doc_id) sees
    // exactly the doc-level candidate set, with the query-doc exclusion
    // and the norm2 > 0 eligibility applied where they belong (member /
    // unique level respectively). Scoring work falls by the corpus
    // duplicate factor; a fully diverse corpus pays one id-only join
    // over the same scan.
    val uscored = graft.operators.Dedup.uniqueDocs(spark, sfDir)
      .select(col("doc_id").as("uid"),
        transform(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"),
          t => TextFunctions.polyFingerprint(t)).as("hs"))
      .select(col("uid"), TextFunctions.hashingFeaturize(col("hs"), dim).as("ws"))
      .withColumn("qv", qv)
      .select(col("uid"),
        expr("aggregate(zip_with(ws, qv, (x, q) -> x.w * q), 0L, (s, v) -> s + v)")
          .as("dot"),
        expr("aggregate(ws, 0L, (s, x) -> s + x.w * x.w)").as("norm2"))
      .where(col("norm2") > 0)
    graft.operators.Dedup.uniqueMembers(spark, sfDir)
      .where(col("doc_id") =!= excludeDocId)
      .join(uscored, "uid")
      .select(col("doc_id"),
        round4(col("dot") /
          sqrt(col("norm2").cast("double") * lit(qNorm2.toDouble)))
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Chunk-granular retrieval — the ACTUAL RAG index unit: the reference
    * ingests split documents, so what similarity search ranks in
    * production is chunks, not whole documents ([[chunk]] → featurize →
    * cosine; the top hit localizes WHERE in a document the query matches).
    * Same exact-integer core as [[textSearch]]: signed bucket counts per
    * chunk dot the broadcast query weights, one sqrt+divide per chunk.
    *
    * Scale shape: chunking, hashing, and scoring fuse into ONE map-only
    * codegen'd scan (no shuffle — the per-chunk weight vector accumulates
    * inside the row, the query rides in the task closure) feeding
    * TakeOrderedAndProject. ~n/step output rows per doc scanned, never
    * materialized beyond the scan. */
  def chunkSearch(
      spark: SparkSession,
      sfDir: String,
      k: Int = 10,
      queryDocId: Long = 0L,
      dim: Int = 64,
      size: Int = 120,
      overlap: Int = 30): DataFrame = {
    val (qDense, qNorm2) = queryWeights(spark, sfDir, queryDocId, dim)
    val qv = typedLit(qDense)
    // UNIQUE-FIRST over BYTE-identical texts (r12): chunk boundaries are
    // character offsets into the RAW text, so the whitespace-folding
    // dedup normalization is unsound here — the exact-text (md5) unique
    // table is the sound collapse, and chunking + featurizing run once
    // per distinct payload. The per-chunk weight vectors and norms are
    // a pure function of (corpus, size, overlap, dim) — the CHUNK INDEX
    // a RAG store maintains — so they materialize once per session (r20,
    // same keyed model-state pattern as the signature tables and the
    // unigram vocab); a warm query pays only the dot against the stored
    // vectors, not re-chunking and re-hashing the corpus. Members expand
    // by id before the top-k; (chunk_id, score) are per-unique, the
    // ordering and the query-doc exclusion apply at member level exactly
    // as the doc-level scan had them.
    val featsKey = key("chunkfeats", sfDir, size, overlap, dim)
    val chunkFeats = Dedup.materialized(
      TextAnalysis.chunkDocs(
        CorpusOps.exactUniqueDocs(spark, sfDir)
          .select(col("uid"), col("text")), size, overlap)
        .select(col("uid"), col("chunk_id"),
          transform(
            expr("regexp_extract_all(lower(chunk), '[a-z0-9]+', 0)"),
            t => TextFunctions.polyFingerprint(t)).as("hs"))
        .select(col("uid"), col("chunk_id"),
          TextFunctions.hashingFeaturize(col("hs"), dim).as("ws"))
        .select(col("uid"), col("chunk_id"), col("ws"),
          expr("aggregate(ws, 0L, (s, x) -> s + x.w * x.w)").as("norm2")),
      featsKey)
    val uscored = Dedup.spreadSigTable(chunkFeats, featsKey)
      .withColumn("qv", qv)
      .select(col("uid"), col("chunk_id"),
        expr("aggregate(zip_with(ws, qv, (x, q) -> x.w * q), 0L, (s, v) -> s + v)")
          .as("dot"),
        col("norm2"))
      .where(col("norm2") > 0)
    CorpusOps.exactUniqueMembers(spark, sfDir)
      .where(col("doc_id") =!= queryDocId)
      .join(uscored, "uid")
      .select(col("doc_id"), col("chunk_id"),
        round4(col("dot") /
          sqrt(col("norm2").cast("double") * lit(qNorm2.toDouble)))
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("chunk_id"))
      .limit(k)
  }

  /** Unigram log-probability quality proxy — the CCNet/Gopher-style
    * language-model filter: score each document by the mean surprisal of
    * its tokens under the corpus's own unigram distribution (gibberish
    * and boilerplate both land in the tails). A real LM is out of engine
    * scope; the unigram proxy is the deterministic, model-free stage of
    * that pipeline.
    *
    * Determinism: per-token log-probabilities quantize to 1e-4 Longs
    * (`floor(ln(n/N)·10⁴ + 0.5)`) BEFORE the per-document sum — integer
    * sums carry no accumulation-order dependence, so the result is
    * engine-independent even though ln is transcendental (the boundary
    * risk is per distinct count value, pinned by the oracle replaying
    * the same quantization).
    *
    * Scale shape: UNIQUE-FIRST (r12) — tokenization, the vocab
    * aggregate (w-weighted, value-identical) and the scoring
    * join/aggregate all run over one row per DISTINCT text, expanded to
    * members by an id-only join last; the unigram table is one
    * token-keyed aggregate (map-side partial, vocab-sized result);
    * `n_total` is a SEPARATE 1-row map-only aggregate
    * (`sum(size(tokens)·w)` — no explode, no shuffle) cross-joined
    * back, the same pattern as [[CorpusOps.mix]] — not a
    * single-partition window over the vocab, which would serialize
    * (and buffer) a web-scale heavy-tail vocabulary through one task.
    * The scoring join is UNHINTED: a tokenizer-input vocab is small and
    * AQE broadcasts it from its measured size, but a raw unigram table
    * over web text is 10⁸+ types — GBs — where a forced broadcast hint
    * would OOM the driver; a shuffle-hash join on `token` is the correct
    * fallback shape there. */
  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    // UNIQUE-FIRST (r12, the dedup family's design rule applied to
    // scoring): exact copies share the token stream — same normalized
    // text ⟹ same lower-alnum token sequence, since the normalization
    // only folds case and whitespace and the tokenizer reads neither —
    // so tokenize and score ONCE per distinct text with copy weight w,
    // and expand per member LAST (an id-only join). Vocab counts are
    // w-weighted sums, value-identical to the doc-level aggregate, so
    // the materialized model table and the graded output are unchanged
    // bit for bit; what changes is that both token shuffles (vocab
    // aggregate + scoring join/aggregate) move unique-level rows —
    // corpus/dup-factor fewer (sf100: ~500k instead of ~500M).
    val uniq = Dedup.uniqueDocs(spark, sfDir)
    val utoks = uniq
      .select(col("doc_id").as("uid"), col("w"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("token"))
    // one extra map-only pass over the unique texts (counts token-array
    // sizes without exploding), w-weighted to the doc-level total
    val nTotal = uniq
      .select((size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .cast("long") * col("w")).as("nt"))
      .agg(sum(col("nt")).as("n_total"))
    // the unigram table is per-corpus MODEL state (like the trained
    // centroids and the pair tables): materialize it once per corpus so
    // warm calls pay one scoring scan, not the vocab aggregate + the
    // n_total pass per call (r9, same keyed session-temp pattern)
    val vocab = Dedup.materialized(
      utoks.groupBy(col("token")).agg(sum(col("w")).as("n"))
        .crossJoin(broadcast(nTotal)) // 1-row aggregate — bounded by design
        .select(col("token"),
          floor(log(col("n") / col("n_total")) * 10000 + lit(0.5))
            .cast("long").as("logq")),
      key("unigram", sfDir))
    utoks.join(vocab, "token")
      .groupBy(col("uid"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("logq")).as("sum_logq"))
      .join(Dedup.uniqueMembers(spark, sfDir), "uid")
      .select(col("doc_id"), col("n_tokens"), col("sum_logq"),
        round4(col("sum_logq") / (col("n_tokens") * lit(10000.0)))
          .as("avg_logprob"))
  }

  /** RAG ingestion chunking — the document-splitting stage that feeds the
    * reference store's `add_texts` path (app.py:24-47 indexes documents the
    * LangChain loader has already split into retrieval-sized pieces; the
    * splitter itself lives outside app.py, so the CONTRACT re-expressed
    * here is the standard fixed-size sliding window with overlap).
    *
    * Chunk i covers characters `[i·step, i·step + size)` with
    * `step = size − overlap`; starts are generated while they cut new text
    * (`start < n − overlap`), so the final chunk is truncated rather than
    * emitting a tail chunk fully contained in its predecessor, and every
    * document yields at least one chunk.
    *
    * Scale shape: map-only — `sequence` + `explode` + `substring` inside
    * one codegen'd scan stage; no shuffle, output ~n/step rows per doc.
    * The chunk count is exact integer arithmetic (`(n − overlap + step − 1)
    * div step`) so the oracle replays it without float parity risk. */
  def chunk(
      spark: SparkSession,
      sfDir: String,
      size: Int = 120,
      overlap: Int = 30): DataFrame =
    chunkDocs(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      size, overlap)

  /** [[chunk]] over any frame with a `text` column: every non-text input
    * column passes through unchanged, plus (chunk_id, c_start, chunk,
    * c_len) — the shared splitter backing the graded query, the chunk
    * store build, and the `addTexts` ingestion batch
    * ([[TextStore.chunkVectors]]), which is what keeps backfill and live
    * ingest chunking provably identical. */
  private[graft] def chunkDocs(
      docs: DataFrame, size: Int, overlap: Int): DataFrame = {
    // overlap >= size makes step <= 0: the n_chunks division silently
    // degrades to null / a single truncated chunk instead of failing —
    // reject the parameters up front like bm25 does
    require(overlap >= 0 && overlap < size,
      s"chunk overlap must be in [0, size): overlap=$overlap size=$size")
    // the splitter manufactures these columns internally; a caller frame
    // that already carries one would be silently clobbered by the
    // withColumn/select below — fail loudly instead
    val reserved = Seq("n", "n_chunks", "chunk_id", "c_start", "c_len", "chunk")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"chunkDocs: input columns ${reserved.mkString(", ")} collide with " +
        "the splitter's internal/output columns")
    val step = size - overlap
    val pass = docs.columns.filterNot(_ == "text").map(col).toSeq
    docs
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("n_chunks",
        greatest(lit(1L),
          expr(s"(n - $overlap + ${step - 1}) div $step")))
      .select(pass ++ Seq(col("text"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id")): _*)
      .select(pass ++ Seq(
        col("chunk_id"),
        (col("chunk_id") * step).as("c_start"),
        expr(s"substring(text, cast(chunk_id * $step + 1 as int), $size)")
          .as("chunk")): _*)
      .withColumn("c_len", length(col("chunk")).cast("long"))
  }

  /** BM25 keyword retrieval over `documents` — the lexical half of the
    * hybrid search surface (the reference's /search endpoint is
    * vector-only, app.py:124; production RAG pairs it with a keyword
    * ranker, fused in [[RagContext.hybridRrf]]).
    *
    * Okapi BM25 with k1 = 1.2, b = 0.75:
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), rounded to 4dp before
    * the per-doc combination so the lone transcendental is pinned on both
    * engines; every other factor is IEEE +,·,/ in a spelled-out order the
    * oracle mirrors term for term.
    *
    * Scale shape: corpus statistics (N, Σdl, per-term df) are ONE
    * map-side-partial aggregate collapsing to a single row (collected as
    * query-parameter state, like the kNN query vector); scoring is then a
    * map-only scan — per-term tf via codegen'd `filter` over the token
    * array against literal terms — feeding TakeOrderedAndProject. The
    * corpus never shuffles and never joins. */
  def bm25(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = Seq("spark", "merge", "vector"),
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "bm25 terms must be non-empty and unique (duplicates double-count idf)")
    // UNIQUE-FIRST (r12): dl and the per-term tfs are functions of the
    // lower-alnum token stream (normalization-stable), so they compute
    // once per DISTINCT text with copy weight w; the cached corpus stats
    // become w-weighted sums (value-identical to the doc-level
    // aggregate), scoring runs per unique, and members join by id before
    // the top-k. (r20 note: a materialized (uid, token, tf) posting
    // table — the inverted-index shape — was built and MEASURED here:
    // it added two exchanges and a multi-file table read to the warm
    // path and lost to this in-row scan at every probe, because the
    // unique-first collapse already shrinks the tokenization to distinct
    // content while the scoring filter and member join are unchanged.
    // Reverted; the posting table is the right structure only when
    // distinct content itself is too large to re-tokenize per query.)
    def tokTable(base: DataFrame): DataFrame = base
      .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
      .select(
        (col("doc_id").as("uid") +: col("w") +:
          size(col("tk")).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            // typed lit, not string interpolation: a term containing a
            // quote must compare (and never match), not break the parse
            size(filter(col("tk"), x => x === lit(t))).cast("long")
              .as(s"tf$i")
          }): _*)
    val toks = tokTable(Dedup.uniqueDocs(spark, sfDir))
    val aggs = sum(col("w")).as("n") +:
      sum(col("dl") * col("w")).as("sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, col("w")).otherwise(0L)).as(s"df$i"))
    // corpus stats are per-(corpus, terms) model state — one driver-side
    // row of longs (n, sumdl, df per term), cached like the trained
    // centroids so warm calls pay only the scoring scan, not a second
    // corpus aggregate (r9). The term LIST is the key parameter: a joined
    // string made Seq("a b") and Seq("a", "b") share one entry.
    val stats: Array[Long] =
      SessionState.getOrBuild(key("bm25stats", sfDir, terms.toList)) {
        val r = toks.agg(aggs.head, aggs.tail: _*).head()
        Array.tabulate(2 + terms.size)(r.getLong)
      }
    val n = stats(0)
    val sumdl = stats(1)
    // the one transcendental, pinned to 4dp (parity note at [[round4]])
    def idf4(df: Long): Double =
      math.floor(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 10000 + 0.5) /
        10000.0
    val score = terms.indices.map { i =>
      val idf = idf4(stats(2 + i))
      lit(idf) * (col(s"tf$i") * lit(2.2)) /
        (col(s"tf$i") +
          lit(1.2) * (lit(0.25) +
            lit(0.75) * ((col("dl") * lit(n)).cast("double") / lit(sumdl))))
    }.reduce(_ + _)
    // the any-term-hit predicate as ONE self-contained expression with the
    // token array bound once (r20, same hazard class as the pipeline keep
    // predicates): filtering on the tf_i column aliases looked identical,
    // but filter pushdown substitutes each alias per reference — the
    // pushed filter re-ran the tokenization once PER TERM per row. It
    // filters the unique table directly (before the tf projection drops
    // `text`); Σ size(filter(tk, =t)) > 0 is the same truth as Σ tf_i > 0.
    val anyHit = exists(
      array(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")),
      tk => terms.map(t => size(filter(tk, x => x === lit(t))))
        .reduce(_ + _) > 0)
    tokTable(Dedup.uniqueDocs(spark, sfDir).where(anyHit))
      .select(col("uid"), col("dl"),
        terms.indices.map(i => col(s"tf$i")).reduce(_ + _).as("n_hit"),
        round4(score).as("score"))
      .join(Dedup.uniqueMembers(spark, sfDir), "uid")
      .select(col("doc_id"), col("dl"), col("n_hit"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Within-document repetition filters (the Gopher-style quality gates,
    * Rae et al. 2021 §A1.1: repetitious documents — boilerplate, scraped
    * listings, generation loops — are low-value training data even when
    * every individual token looks fine): the fraction of DISTINCT tokens
    * and the coverage of the single most frequent bigram, each with a 4dp
    * pinned ratio, plus the keep/flag verdict a cleaning pipeline consumes
    * (`repetitive` = uniq_ratio < 0.45, OR top_bigram_ratio > 0.10 with
    * the bigram actually REPEATED — `top_bigram_cnt >= 2`, so a short
    * diverse document whose every bigram is a 1/(n-1) fraction cannot
    * trip the coverage term; comparisons run on the rounded values, so
    * the verdict is engine-independent).
    *
    * Scale shape: UNIQUE-FIRST — every stat is a function of the
    * lower-alnum token stream, which the dedup normalization leaves
    * invariant (it folds only case and whitespace), so stats compute once
    * per DISTINCT text and expand to members by one id-only join. ALL
    * token-level work is map-only (r20): the top-bigram count uses the
    * sorted-run fold ([[CleanCorpus.topBigramCnt]] — the max
    * equal-adjacent run of the SORTED adjacent-bigram array IS the top
    * bigram's count, exactly), so the exploded unique-level (uid, bigram)
    * stream that previously paid two aggregation exchanges and a join
    * back never exists; the only shuffle left is the member-expansion
    * join, and that stream is corpus-token-scale gone at any SF. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Dedup.uniqueDocs(spark, sfDir)
      .select(col("doc_id").as("uid"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("top_bigram_cnt",
        when(col("n_tokens") >= 2, CleanCorpus.topBigramCnt)
          .otherwise(lit(0L)))
      .select(
        col("uid"), col("n_tokens"), col("n_uniq"),
        when(col("n_tokens") > 0, round4(col("n_uniq") / col("n_tokens")))
          .otherwise(lit(0.0)).as("uniq_ratio"),
        col("top_bigram_cnt"),
        when(col("n_tokens") >= 2,
          round4(col("top_bigram_cnt") / (col("n_tokens") - 1)))
          .otherwise(lit(0.0)).as("top_bigram_ratio"))
      .withColumn("repetitive",
        col("uniq_ratio") < 0.45 ||
          (col("top_bigram_cnt") >= 2 && col("top_bigram_ratio") > 0.10))
    Dedup.uniqueMembers(spark, sfDir).join(scored, "uid")
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("uniq_ratio"),
        col("top_bigram_cnt"), col("top_bigram_ratio"), col("repetitive"))
  }

  /** Substring-granular duplication profile (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": repeated
    * SPANS degrade models even inside otherwise-unique documents — the
    * boilerplate/template mass whole-document dedup cannot see): for
    * every document, the fraction of its k-token windows whose window
    * text occurs ≥ 2 times across the corpus (within-document repeats
    * count — a doc that repeats its own span IS span-duplicated).
    * Output: (doc_id, n_windows, n_dup_windows, dup_fraction 4dp).
    *
    * Scale shape: UNIQUE-FIRST over the normalized unique table — window
    * strings are a function of the lower-alnum token stream, which the
    * dedup normalization leaves invariant, so windows explode once per
    * DISTINCT text and corpus totals weigh by copy count `w` (a window
    * in a doc with w copies occurs w× per in-doc position). Two
    * map-side-partial aggregations — per-(uid, window) position counts,
    * then per-window corpus totals — and a window-keyed join; bounded
    * aggregates throughout, never a pair expansion, so the plan is
    * output-linear at any duplication factor (the same reason the repr
    * dedup modes exist). The window key is hashed to 8 bytes at explode
    * time (see below) so both shuffles and the join carry longs, not
    * k-token strings. */
  def dupSpans(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val u = Dedup.uniqueDocs(spark, sfDir)
      .select(col("doc_id").as("uid"), col("w"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
    // the window key is xxhash64(window text), taken AT EXPLODE TIME: the
    // two aggregations and the corpus-totals join below carry the key per
    // exploded row, and an 8-byte long shuffles ~6× lighter than the
    // ~50-byte k-token string. The profile is hash-invariant up to
    // 64-bit collisions (a collision can only mark a genuinely-unique
    // window as duplicated: ~n²/2⁶⁵ expected collisions corpus-wide —
    // ~10⁻⁹ at sf0.01 where the oracle replays the profile over the raw
    // strings and hash-matches, and still <1 in 10⁵ windows at 10¹⁰
    // windows — the approximation regime MinHash/SimHash already accept).
    val wins = u.select(col("uid"), col("w"),
      explode(
        when(size(col("toks")) >= k, expr(
          s"transform(sequence(1, size(toks) - ${k - 1}), i -> xxhash64(array_join(slice(toks, i, $k), ' ')))"))
          .otherwise(expr("CAST(array() AS array<bigint>)"))).as("win"))
    // ONE win-keyed exchange feeds everything win-keyed (r20, guide §2.4):
    // hash-partitioning the exploded stream by `win` up front satisfies
    // the (uid, w, win) position-count aggregate (win ⊆ its grouping
    // key) AND the corpus-totals computation, expressed as a window sum
    // over the same partitioning — the former shape shuffled the full
    // window stream once for the position counts and then the
    // position-count table twice more (totals aggregate + join probe
    // side), and a totals JOIN back is a self-join, whose analyzer
    // re-aliasing defeats exchange reuse (measured: the explode subtree
    // scanned and shuffled twice). The window sum keeps one subtree:
    // explode → one exchange → aggregate → window → per-uid aggregate.
    // WindowExec buffers one win-group at a time and spills past
    // spark.sql.windowExec.buffer.spill.threshold, so a boilerplate
    // window shared by many uniques is disk-bounded, not OOM.
    val winP = wins.repartition(col("win"))
    val perDocWin = winP.groupBy(col("uid"), col("w"), col("win"))
      .agg(count(lit(1)).as("c"))
    val perUid = perDocWin
      .withColumn("t", sum(col("c") * col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("win"))))
      .groupBy(col("uid"))
      .agg(sum(col("c")).as("n_windows"),
        sum(when(col("t") >= 2, col("c")).otherwise(lit(0L)))
          .as("n_dup_windows"))
    Dedup.uniqueMembers(spark, sfDir)
      .join(perUid, Seq("uid"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          round4(col("n_dup_windows") / col("n_windows")))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }

  /** PII patterns with identical semantics in Java regex (Spark) and RE2
    * (DuckDB): character classes, bounded/unbounded counted repeats, no
    * lookarounds, no alternation whose leftmost-first order could differ. */
  private[operators] val piiEmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[operators] val piiPhonePat = "\\+1-[0-9]{3}-[0-9]{4}"
  private[operators] val piiIpPat =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction — the scrubbing stage every production
    * training-data pipeline runs before text reaches a model (emails,
    * phone numbers, IP addresses → typed placeholders). The corpus is
    * synthetic (no digits at all), so like the `mm_*_real` family the
    * operator proves itself on REAL payloads generated in-pipeline: each
    * document deterministically receives 0-3 PII spans derived from its
    * doc_id (an email for even ids, a NANP-style phone for ids ≡ 0 mod 3,
    * a dotted-quad IP prefix for ids ≡ 0 mod 5), then the scrubber —
    * which never sees the arithmetic — must find and redact exactly those
    * spans. The oracle replays the injection and the regexes, so
    * hash-green proves count AND redaction parity byte for byte
    * (`redacted_md5` covers the full scrubbed text).
    *
    * Scale shape: map-only — injection, three codegen'd `regexp_count`s,
    * three chained `regexp_replace`s and the md5 all ride one scan; no
    * shuffle, no unique-table (the payload depends on doc_id, so there is
    * nothing to collapse). Redaction order (email → phone → IP) is fixed
    * and mirrored by the oracle; the patterns cannot overlap across
    * classes on any input because an email match consumes its digits and
    * the phone literal contains no dots. */
  /** The deterministic PII injection over a frame with (doc_id, text) —
    * extracted so the composed cleaning pipeline ([[CleanCorpus]]) scrubs
    * the SAME payloads the graded `text_pii` proves itself on. Reads the
    * columns by name (the integer-div term needs SQL `div`). */
  private[graft] def piiInjected: Column = {
    val d = col("doc_id")
    def s(c: Column): Column = c.cast("string")
    val ip = concat(
      s(lit(10) + d % 200), lit("."), s(d % 250), lit("."),
      s(expr("doc_id div 7") % 250), lit("."), s(lit(1) + d % 254))
    concat(
      when(d % 5 === 0, concat(lit("srv "), ip, lit(" "))).otherwise(lit("")),
      col("text"),
      when(d % 2 === 0,
        concat(lit(" contact user"), s(d), lit("@mail"), s(d % 7), lit(".com")))
        .otherwise(lit("")),
      when(d % 3 === 0,
        concat(lit(" call +1-555-"), lpad(s(d % 10000), 4, "0")))
        .otherwise(lit("")))
  }

  /** Chained email → phone → IP redaction (fixed order, mirrored by the
    * oracle) — shared by [[piiScrub]] and the composed pipeline. */
  private[graft] def piiRedacted(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(piiEmailPat), lit("<EMAIL>")),
        lit(piiPhonePat), lit("<PHONE>")),
      lit(piiIpPat), lit("<IP>"))

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val redacted = piiRedacted(col("injected"))
    // four multi-alternative regexes per row off a dense one-row-group
    // scan: spread when small so the regex work is cluster-wide (r19).
    // Skipped when the documents table is shadowed by the bucketed
    // catalog redirect (r20, ADVICE r19): the parquet-path size probe
    // says nothing about the catalog table's layout.
    val docs = Tables.documents(spark, sfDir)
    (if (Tables.isRedirected(spark, "documents")) docs
     else Tables.spreadSmall(spark, docs, s"$sfDir/documents.parquet"))
      .select(col("doc_id"), piiInjected.as("injected"))
      .select(
        col("doc_id"),
        regexp_count(col("injected"), lit(piiEmailPat)).as("n_email"),
        regexp_count(col("injected"), lit(piiPhonePat)).as("n_phone"),
        regexp_count(col("injected"), lit(piiIpPat)).as("n_ip"),
        md5(redacted).as("redacted_md5"))
      .withColumn("has_pii",
        col("n_email") + col("n_phone") + col("n_ip") > 0)
  }
}

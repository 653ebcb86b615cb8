package graft.operators

import graft.Tables
import graft.functions.{TextFunctions, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composed pipeline a training-data
  * ingest runs before embedding (SURVEY §2 suites joined up): keep
  * documents that (a) score above a quality threshold, (b) are predicted
  * English, and (c) are not the duplicate side of a near-dup pair.
  *
  * Shape at scale: quality + langid are computed in ONE codegen'd scan
  * (not joins of the individual queries — the per-doc stats share the
  * tokenization); the only shuffles are the shingle bucketing inherited
  * from the jaccard dedup and the anti-join against the duplicate-id
  * list. That join is deliberately UNHINTED: the duplicate-id list is
  * sized by corpus duplication — tiny on a diverse corpus (AQE broadcasts
  * it from its measured size), potentially corpus-scale on the
  * duplicate-heavy corpora cleaning targets, where a forced broadcast
  * would OOM the driver. */
object CleanCorpus {

  /** The per-payload keep verdict — quality score + English-majority test
    * computed in ONE codegen'd token pass (the native MarkerCounts
    * expression langid/quality use: mc[0] = stopword hits, mc[1] = en,
    * mc[2..] = the other languages in langMarkers order) — over any frame
    * with a `text` column. ONE definition shared by the batch pipeline
    * (applied per distinct payload, expanded by id) and the streaming
    * ingest stage (applied per row — a live micro-batch has no dup mass
    * to collapse), so backfill and live ingest provably agree. Stateless:
    * safe in append mode. */
  private[graft] def scoredKeep(df: DataFrame, minQuality: Double): DataFrame = {
    val stop = TextAnalysis.stopwords // the quality replay must count
    // exactly text_quality's list — one definition, not a copy
    val sets: Seq[Seq[String]] = stop +: TextAnalysis.langMarkers.map(_._2)
    // The keep predicate is ONE self-contained expression with the token
    // array and marker counts bound ONCE via single-element higher-order
    // binds (r20). A predicate over the `toks`/`mc`/`quality` COLUMN
    // aliases looks identical, but filter pushdown substitutes the alias
    // definitions into the pushed predicate per REFERENCE — the pushed
    // filter re-ran the tokenization 9× and the marker counts 6× per row
    // (node-level plan evidence, stage CPU 13.8 s per pipeline_clean call
    // at sf0.1; same hazard class repetitionKeep documents). Lambda
    // variables are evaluated once however many times the body reads
    // them, and the bound form survives any pushdown intact.
    val keep = exists(
      array(TextFunctions.words(col("text"))),
      t => exists(
        array(TextFunctions.markerCounts(t, sets)),
        m => {
          val quality = TextAnalysis.round4(
            lit(0.5) * least(lit(1.0), size(t) / lit(60.0)) +
            lit(0.3) * (lit(1.0) - m.getItem(0) / size(t)) +
            lit(0.2) * least(lit(1.0),
              (length(col("text")) / size(t)) / lit(8.0)))
          quality >= minQuality &&
            m.getItem(1) >= greatest(
              (2 until sets.length).map(i => m.getItem(i)): _*)
        }))
    df
      .withColumn("toks", TextFunctions.words(col("text")))
      .withColumn("mc",
        TextFunctions.markerCounts(col("toks"), sets))
      .withColumn("n_stop", col("mc").getItem(0))
      .withColumn("quality",
        TextAnalysis.round4(
          lit(0.5) * least(lit(1.0), size(col("toks")) / lit(60.0)) +
          lit(0.3) * (lit(1.0) - col("n_stop") / size(col("toks"))) +
          lit(0.2) * least(lit(1.0),
            (length(col("text")) / size(col("toks"))) / lit(8.0))))
      .withColumn("c_en", col("mc").getItem(1))
      .withColumn("c_other", greatest(
        (2 until sets.length).map(i => col("mc").getItem(i)): _*))
      .where(keep)
  }

  /** The FULL per-payload keep verdict (r14): [[scoredKeep]]'s quality +
    * English-majority test composed with the Gopher-style repetition gate
    * — all from the ONE token array the scan already extracts, so the
    * whole verdict is a single codegen'd pass with NO shuffle.
    *
    * The repetition stats here are the map-only reformulation of
    * [[TextAnalysis.repetition]]'s: sorting a document's n-1 adjacent
    * bigrams makes the max equal-adjacent RUN length equal the top bigram
    * count — O(n log n) per row instead of a unique-level (uid, bigram)
    * shuffle. The batch query keeps the groupBy shape (its output is the
    * per-doc stats table); the composed pipeline and the stateless
    * streaming twin need the verdict per row, where a shuffle per
    * micro-batch would be pure overhead. Verdict parity between the two
    * formulations is spec-pinned (same rounded ratios, same gate). */
  /** The repetition KEEP verdict over the `toks` column as ONE
    * self-contained boolean expression — same gate as
    * [[TextAnalysis.repetition]] (uniq_ratio ≥ 0.45, and no bigram with
    * count ≥ 2 covering > 0.10 of the n-1 bigrams, both compared on 4dp
    * rounded values; spec-pinned verdict parity).
    *
    * Shape matters more than it looks: the sorted bigram array is the
    * aggregate's FIRST argument — evaluated once per row — and the
    * lambdas reference only their own variables and the accumulator. An
    * earlier formulation bound the array to a column alias and indexed
    * it from the lambda (`bg[i] = bg[i-1]`); filter pushdown substitutes
    * aliases into the pushed predicate, so the alias's array_sort —
    * and the tokenization under it — re-evaluated PER ELEMENT, turning
    * a 0.4 s pass into 15 s at sf0.01. Sorting the adjacent bigrams
    * makes the max equal-run length equal the top bigram count —
    * map-only, no shuffle, per-row computable (the stateless streaming
    * twin needs exactly that); the zip_with pairing pads one null
    * bigram at the tail, which can only set best = max(best, 1) —
    * harmless for the ≥ 2 gate. */
  private val repetitionKeepBody: String =
    """CASE
      |  WHEN size(toks) < 2 THEN
      |    size(toks) > 0 AND
      |    FLOOR(size(array_distinct(toks)) / CAST(size(toks) AS DOUBLE) * 10000 + 0.5) / 10000.0 >= 0.45
      |  ELSE
      |    FLOOR(size(array_distinct(toks)) / CAST(size(toks) AS DOUBLE) * 10000 + 0.5) / 10000.0 >= 0.45
      |    AND NOT aggregate(
      |      array_sort(zip_with(toks, slice(toks, 2, size(toks) - 1),
      |        (a, b) -> concat(a, ' ', b))),
      |      named_struct('prev', CAST(NULL AS STRING),
      |                   'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
      |      (acc, x) -> named_struct(
      |        'prev', x,
      |        'run', IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
      |        'best', GREATEST(acc.best,
      |          IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
      |      acc -> acc.best >= 2
      |        AND FLOOR(acc.best / CAST(size(toks) - 1 AS DOUBLE) * 10000 + 0.5) / 10000.0 > 0.10)
      |END""".stripMargin

  private[graft] val repetitionKeep: Column = expr(repetitionKeepBody)

  /** The top adjacent-bigram COUNT over `toks` as one map-only expression —
    * the same sorted-run fold as [[repetitionKeep]], finishing with the
    * count instead of the keep gate. Sorting the n-1 adjacent bigrams makes
    * the longest equal-adjacent run equal the most frequent bigram's count,
    * so this is EXACTLY the max the exploded (uid, bigram) double-aggregate
    * computes, with no shuffle. The zip_with pairing pads one null bigram
    * at the tail (concat with the null padding element), which can only set
    * best = max(best, 1) — the true count is ≥ 1 whenever size(toks) ≥ 2,
    * so the result is exact there; callers guard size(toks) < 2 (where the
    * padded null would be the only element). Same alias-pushdown caveat as
    * [[repetitionKeep]]: the sorted array must stay the aggregate's first
    * argument, never a column alias indexed from a lambda. */
  private[graft] val topBigramCnt: Column = expr(
    """aggregate(
      |  array_sort(zip_with(toks, slice(toks, 2, size(toks) - 1),
      |    (a, b) -> concat(a, ' ', b))),
      |  named_struct('prev', CAST(NULL AS STRING),
      |               'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
      |  (acc, x) -> named_struct(
      |    'prev', x,
      |    'run', IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
      |    'best', GREATEST(acc.best,
      |      IF(x <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
      |  acc -> acc.best)""".stripMargin)

  // the repetition gate composes with [[scoredKeep]]'s predicate in one
  // merged pushed Filter, so like that predicate it must be
  // self-contained: `toks` here is a LAMBDA VARIABLE shadowing the
  // column — bound once per row — where the bare column reference
  // would inline the tokenization into every one of the body's ~10
  // `toks` reads when the filter is pushed below the projection
  private[graft] def scoredKeepFull(df: DataFrame, minQuality: Double): DataFrame =
    scoredKeep(df, minQuality).where(expr(
      s"""exists(array(regexp_extract_all(lower(text), '${TextOps.WordPattern}', 0)),
         |  toks -> $repetitionKeepBody)""".stripMargin))

  /** The map-only scrub tail over a kept (doc_id, quality, text) frame:
    * inject the deterministic PII spans (the graded `text_pii`'s
    * contract — injection, detection and redaction share ONE definition
    * with it), count hits, and emit the redaction digest. */
  private[graft] def scrubTail(kept: DataFrame): DataFrame =
    kept
      .select(col("doc_id"), col("quality"),
        TextAnalysis.piiInjected.as("injected"))
      .select(col("doc_id"), col("quality"),
        (regexp_count(col("injected"), lit(TextAnalysis.piiEmailPat)) +
          regexp_count(col("injected"), lit(TextAnalysis.piiPhonePat)) +
          regexp_count(col("injected"), lit(TextAnalysis.piiIpPat)))
          .as("n_pii"),
        md5(TextAnalysis.piiRedacted(col("injected"))).as("redacted_md5"))

  /** The complete cleaning pipeline (r14, VERDICT r13 item 3): scrub +
    * quality + langid + repetition in ONE codegen'd pass per distinct
    * payload, then the near-dup anti-join — what a production ingest
    * runs as a single stage before embedding. Unique-first like [[clean]]
    * (every verdict input is byte-identical-invariant); the PII scrub is
    * per-DOCUMENT (injection is keyed by doc_id), so it runs map-only
    * AFTER the member expansion, on survivors only. Join order keeps the
    * heavy text column off the doc_id shuffle: members anti-join the
    * duplicate ids first (id-only rows), then attach the unique verdict +
    * payload on the uid join, then scrub without another exchange. */
  def cleanFull(
      spark: SparkSession,
      sfDir: String,
      minQuality: Double = 0.5): DataFrame = {
    val uScored = scoredKeepFull(
      CorpusOps.exactUniqueDocs(spark, sfDir).select(col("uid"), col("text")),
      minQuality)
      .select(col("uid"), col("quality"), col("text"))
    val dupIds = Dedup.duplicateDocIds(spark, sfDir)
      .select(col("doc_id"))
    val kept = CorpusOps.exactUniqueMembers(spark, sfDir)
      .join(dupIds, Seq("doc_id"), "left_anti")
      .join(uScored, "uid")
      .select(col("doc_id"), col("quality"), col("text"))
    scrubTail(kept)
  }

  def clean(
      spark: SparkSession,
      sfDir: String,
      minQuality: Double = 0.5): DataFrame = {
    // UNIQUE-FIRST over BYTE-identical texts (r12): quality's density
    // term reads the RAW text length, which the dedup normalization
    // folds (two whitespace-variant copies share a normalized unique but
    // differ in length) — so the exact-text table is the sound collapse
    // here, like chunk_search's. Score once per distinct payload, keep
    // the per-unique verdict, expand to members by id, THEN anti-join
    // the duplicate ids (a doc-level decision).
    val uScored = scoredKeep(
      CorpusOps.exactUniqueDocs(spark, sfDir).select(col("uid"), col("text")),
      minQuality)
      .select(col("uid"), col("quality"))

    // the distinct doc_b side derived from the unique-level pair table —
    // never the member-level expansion (quadratic in copy count; r10)
    val dupIds = Dedup.duplicateDocIds(spark, sfDir)
      .select(col("doc_id"))

    CorpusOps.exactUniqueMembers(spark, sfDir)
      .join(uScored, "uid")
      .join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality"))
  }
}

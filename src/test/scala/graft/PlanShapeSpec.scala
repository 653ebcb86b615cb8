package graft

import graft.operators.{KnnSearch, RagContext, TextAnalysis, TextStore, VectorIndex}

/** Pins the executed-plan shape of the scan-dominated queries: these must
  * stay shuffle-free (per-partition top-k heaps + driver merge), because a
  * regression that introduces an Exchange here would still pass the value
  * oracles while destroying the 100 TB profile. */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("spreadSmall spreads a small one-file scan and leaves a multi-file one alone") {
    // the one-file sf0.001 documents table sits under the 64 MiB cutoff
    // and under parallelism / 2 files: piiScrub's regex work is spread
    val spread = executedPlan(TextAnalysis.piiScrub(spark, sfDir))
    assert(spread.contains("RoundRobinPartitioning(4)"), spread)
    // a two-file documents dir is already scan-parallel: no spread
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("spread_two_files")
    val docs = Files.createDirectory(dir.resolve("documents.parquet"))
    for (i <- 0 until 2)
      Files.copy(Paths.get(s"$sfDir/documents.parquet"),
        docs.resolve(s"part-$i.parquet"))
    val plain = executedPlan(TextAnalysis.piiScrub(spark, dir.toString))
    assert(!plain.contains("RoundRobinPartitioning"), plain)
  }

  test("exact knn is a single scan + TakeOrdered: no exchange, no join") {
    val plan = executedPlan(KnnSearch.topK(spark, sfDir, KnnSearch.Cosine))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"knn plan gained a shuffle:\n$plan")
  }

  test("quantized knn is two stacked TakeOrdered passes with no exchange") {
    val plan = executedPlan(VectorIndex.quantizedSearch(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"quantized plan gained a shuffle:\n$plan")
  }

  // The lexical search family is UNIQUE-FIRST since r12: featurize/tf
  // scoring runs once per distinct text (the materialized unique table —
  // the scans below read its session-temp parquet, not documents), and
  // the only join is the id-only member expansion feeding the top-k.
  // The pins assert exactly that shape: a TakeOrdered top-k, exactly one
  // join, and no aggregate exchange — the member join's exchanges (or
  // AQE's broadcast of the k-scored unique side) are the only ones
  // allowed, so a regression that reintroduces corpus-side shuffled
  // aggregation still fails.
  private def assertUniqueFirstTopK(name: String, plan: String): Unit = {
    // an AdaptiveSparkPlan dump repeats the tree under "== Initial Plan
    // ==" — count nodes in the final section only
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("TakeOrderedAndProject"), plan)
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(finalPlan).size
    assert(joins == 1,
      s"$name must have exactly the member-expansion join, found $joins:\n$plan")
    assert(!finalPlan.contains("HashAggregate"),
      s"$name scoring must stay non-aggregating (in-row fold):\n$plan")
  }

  test("text search is unique-first: in-row featurize, one member join, TakeOrdered") {
    assertUniqueFirstTopK("text_search",
      executedPlan(TextAnalysis.textSearch(spark, sfDir)))
  }

  test("chunk search is unique-first: fused chunk+featurize+score, one member join") {
    assertUniqueFirstTopK("chunk_search",
      executedPlan(TextAnalysis.chunkSearch(spark, sfDir)))
  }

  test("chunk-vector plans hash each chunk once: the kernel is not inlined into a filter") {
    // the zero-signal drop over the bound weights must not be pushed
    // below the projection with `hashed_weights(...)` substituted in
    val docs = Tables.documents(spark, sfDir).where(org.apache.spark.sql.functions.col("doc_id") < 20)
    Seq("chunkVectors" -> TextStore.chunkVectors(docs),
        "add_texts" -> TextStore.ingestBatch(spark, sfDir),
        // unique-text scoring binds its zero-signal drop the same way
        "text_search" -> TextAnalysis.textSearch(spark, sfDir),
        "hybrid_rrf" -> RagContext.hybridRrf(spark, sfDir)).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert("hashed_weights\\(".r.findAllIn(plan).size == 1,
        s"$name must evaluate the hashed-text kernel once per text:\n$plan")
    }
  }

  test("bm25 scoring is unique-first: in-row tf over literal terms, one member join") {
    assertUniqueFirstTopK("bm25_search",
      executedPlan(TextAnalysis.bm25(spark, sfDir)))
  }

  test("text_featurize is unique-first: no Sort, one member join, no aggregate") {
    // VERDICT r5 finding 2 still pinned: the trailing corpus-sized
    // orderBy was an oracle-hashing artifact living in the operator — at
    // 100 TB a full range-partition exchange + sort no consumer needs
    // (the determinism sort lives in SparkEntry.hashOrder, verify-time
    // only). r12: the featurize work runs per DISTINCT text and fans out
    // through the one id-only member join — the join's exchanges are the
    // only ones allowed, and no aggregate may appear (in-row weight
    // fold).
    val plan = executedPlan(TextAnalysis.featurize(spark, sfDir))
    val finalPlan = plan.split("== Initial Plan ==").head
    // the r5 artifact was an orderBy: it manifests as a range-partition
    // exchange (a member join may legitimately sort its inputs)
    assert(!finalPlan.toLowerCase.contains("rangepartitioning"),
      s"featurize plan gained a global sort exchange:\n$plan")
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(finalPlan).size
    assert(joins == 1,
      s"featurize must have exactly the member-expansion join, found $joins:\n$plan")
    assert(!finalPlan.contains("HashAggregate"),
      s"featurize scoring must stay non-aggregating:\n$plan")
  }

  test("keep-best survives an un-broadcastable verdict set: no forced broadcast") {
    // VERDICT r5 finding 1: keepBest forced broadcast(graphVerdicts) — on
    // duplicate-heavy corpora the pair graph approaches the whole corpus
    // and the broadcast OOMs the driver. With every broadcast avenue
    // disabled (static + AQE thresholds), the plan must still build — a
    // surviving broadcast() hint would ignore the thresholds and fail
    // this by keeping a BroadcastExchange in the executed plan.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val plan = executedPlan(graft.operators.Dedup.keepBest(spark, sfDir))
      assert(!plan.contains("BroadcastExchange"),
        s"keepBest still forces a broadcast with thresholds disabled:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("corpus_pack cumsum is a distributed prefix sum, not a per-language window") {
    // the r4 rework (VERDICT r3 item 1): the per-document cumulative sum
    // must be windowed by (lang, shard) — bounded state per window
    // partition — with the shard offsets broadcast back. A regression to
    // Window.partitionBy(lang) would serialize each language's whole
    // corpus through one task at 100 TB.
    val plan = executedPlan(graft.operators.CorpusOps.packSequences(spark, sfDir))
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, s"no window found:\n$plan")
    assert(winSpecs.exists(s => s.contains("lang") && s.contains("shard")),
      s"per-doc cumsum window must be keyed by (lang, shard):\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"shard offsets should broadcast back onto the triples:\n$plan")
  }

  test("shared pair-table consumers read the materialized table, not a rebuild") {
    // r9: the scored sign-LSH candidate frame and the jaccard pair frame
    // materialize once per (corpus, params) and feed every consumer. A
    // regression to inline re-derivation would pass the value oracles
    // (same rows) while re-running the banding/bucketing pipeline per
    // query — pin that the consumer plans contain no source-table scan.
    val lsh = executedPlan(
      graft.operators.Dedup.embeddingNearDupLsh(spark, sfDir))
    assert(!lsh.contains("embeddings.parquet"),
      s"embeddingNearDupLsh rebuilt the candidate pipeline inline:\n$lsh")
    // r10 unique-first: the tail is pair-table scan + threshold filter +
    // the two member-expansion joins. The ONLY shuffles allowed are the
    // deliberately PINNED pre-fan-out repartitions (REPARTITION_BY_COL —
    // skinny unique-level rows, never the expanded multiset); a
    // planner-added hash exchange (ENSURE_REQUIREMENTS) would mean the
    // fan-out lost its pinned width or the expanded rows started
    // shuffling. The threshold must reach the pair-table scan as a
    // pushed filter (expansion happens on survivors only).
    val plannerExchanges = "Exchange hashpartitioning[^\\n]*".r
      .findAllIn(lsh).filterNot(e =>
        e.contains("REPARTITION_BY_COL") || e.contains("REPARTITION_BY_NUM"))
      .toList
    assert(plannerExchanges.isEmpty && !lsh.contains("rangepartitioning"),
      s"threshold tail grew a planner-added shuffle: $plannerExchanges\n$lsh")
    assert(lsh.contains("GreaterThanOrEqual(cos_sim"),
      s"threshold must push into the pair-table scan:\n$lsh")
    val graph = executedPlan(graft.operators.Dedup.knnGraph(spark, sfDir))
    assert(!graph.contains("embeddings.parquet"),
      s"knnGraph rebuilt the candidate pipeline inline:\n$graph")
    val jac = executedPlan(graft.operators.Dedup.ngramJaccard(spark, sfDir))
    assert(!jac.contains("documents.parquet") && !jac.contains("collect_list"),
      s"ngramJaccard rebuilt the shingle/bucketing pipeline inline:\n$jac")
  }

  test("minhash pair emission carries no global pair-dedupe exchange") {
    // r9 (VERDICT r7 item 3): band-ownership emission makes pairs globally
    // unique at the source, so the plan must not contain the old
    // distinct() — an aggregate (re-)grouping the pair multiset on
    // (doc_a, doc_b). The only aggregates allowed are the (band,
    // band_hash) bucket groupings; a regression would still pass the
    // value oracle (distinct-ness is preserved either way) while
    // re-introducing a shuffle whose volume scales with the duplicated
    // candidate multiset.
    val plan = executedPlan(graft.operators.Dedup.minhashLsh(spark, sfDir))
    assert(!"Aggregate\\(keys=\\[doc_a".r.findFirstIn(plan).isDefined &&
      !"Aggregate\\(keys=\\[.*doc_b".r.findFirstIn(plan).isDefined,
      s"pair-dedupe aggregate reappeared:\n$plan")
  }

  test("ingest gates read the bucketed corpus tables with no corpus-side exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.functions.col
    // the corpus tables are bucketed on the keys the gates join them on,
    // so a batch's plan must never shuffle them: that would be an
    // O(corpus) exchange per ingest batch. Broadcasts are switched off,
    // as at a corpus scale where no corpus table fits under AQE's size
    // threshold (sf0.001 tables do, and AQE would broadcast them). A
    // corpus scan's leg is the chain of single-input operators from the
    // scan up to the operator where it meets another input (the join).
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    def legs(p: SparkPlan, leg: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
      p match {
        case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table.startsWith("graft_bkt_")) =>
          Seq(s -> leg)
        case _ => kids(p) match {
          case Seq(only) => legs(only, p :: leg)
          case many => many.flatMap(legs(_, Nil))
        }
      }
    def check(name: String, df: org.apache.spark.sql.DataFrame,
        tables: Seq[String]): Unit = {
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan
      val found = legs(plan, Nil)
      val cols = found.map(_._1.relation.schema.fieldNames.toSet)
      tables.foreach(c => assert(cols.exists(_.contains(c)),
        s"$name reads no corpus table with column $c:\n$plan"))
      found.foreach { case (scan, leg) =>
        val ex = leg.collect { case e: ShuffleExchangeLike => e.nodeName }
        assert(ex.isEmpty, s"$name shuffles corpus table " +
          s"${scan.tableIdentifier.get.table} ($ex):\n$plan")
      }
    }
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val docs = Tables.documents(spark, sfDir)
        .where(col("doc_id") % 50 === 3)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      check("nearDupGateRepr",
        graft.operators.Dedup.nearDupGateRepr(docs, spark, sfDir),
        Seq("band_hash", "sig"))
      val vecs = Tables.embeddings(spark, sfDir)
        .where(col("vec_id") % 50 === 3)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      check("embeddingNearDupGateRepr",
        graft.operators.Dedup.embeddingNearDupGateRepr(vecs, spark, sfDir),
        Seq("pre", "embedding"))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("simhashRepr never materializes the member expansion (r13)") {
    // the repr mode's whole point is stopping BEFORE the w_a·w_b doc-level
    // fan-out (the 400+ s term of the pair mode at dup factor 1000). The
    // expansion's structural signature is its pinned pre-fan-out
    // repartitions (REPARTITION_BY_COL, see expandUniquePairs) — a
    // regression routing repr through expand-then-reaggregate would carry
    // them and re-shuffle the expanded multiset; the repr plan must stay
    // unique-level end to end: pair emission + two weight joins.
    val plan = executedPlan(graft.operators.Dedup.simhashRepr(spark, sfDir))
    assert(!plan.contains("REPARTITION_BY_COL"),
      s"simhashRepr plan carries the member-expansion fan-out hops:\n$plan")
    assert(!"Aggregate\\(keys=\\[doc_a".r.findFirstIn(plan).isDefined,
      s"simhashRepr re-aggregates a doc-level pair multiset:\n$plan")
  }

  test("batch PQ: LUT probe table broadcasts, corpus never cartesian-joins") {
    // the per-query LUT join is keyless (every row scores against every
    // query) but the probe side is nQueries rows — it must plan as a
    // broadcast nested-loop over the tiny side, never as a shuffled
    // cartesian of the corpus, and the codes scan must happen once
    val plan = executedPlan(VectorIndex.batchPqSearch(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the LUT probe table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"batch PQ gained a shuffled cartesian:\n$plan")
  }
}

package graft

import graft.operators.{KnnSearch, VectorIndex}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-3 store-search surface: threshold / MMR / JSON-metadata search
  * through the materialized IVF store, shuffle-free probes with and
  * without an append delta,
  * and retrain-on-compact. */
class StoreSearchSpec extends SparkSpec {

  private def fullProbe = VectorIndex.K // probe every centroid → exact scan

  test("store threshold search at full probe equals the exact threshold scan") {
    val path = Files.createTempDirectory("store_thresh").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val stored = VectorIndex.searchStore(spark, path, qv,
      nprobe = fullProbe, filter = Some(col("vec_id") =!= 0L),
      scoreThreshold = Some(0.2))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    val exact = KnnSearch.aboveThreshold(spark, sfDir, 0.2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(exact.nonEmpty)
    assert(stored == exact,
      s"store/exact diff: ${stored.diff(exact)} / ${exact.diff(stored)}")
  }

  test("store MMR search at full probe equals the exact-scan MMR") {
    val path = Files.createTempDirectory("store_mmr").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val stored = VectorIndex.mmrSearchStore(spark, path, qv,
      nprobe = fullProbe, filter = Some(col("vec_id") =!= 0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    val exact = KnnSearch.mmrTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(exact.nonEmpty)
    assert(stored.toSeq == exact.toSeq)
  }

  test("JSON-metadata filter composes into the pruned store probe") {
    val path = VectorIndex.ensureStore(spark, sfDir)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val probe = VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 4,
      filter = Some(get_json_object(col("metadata"), "$.lang") === "en"
        && col("vec_id") =!= 0L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"partition pruning lost under the JSON filter:\n$plan")
    val rows = probe.collect()
    assert(rows.length == 10)
    // the store's metadata agrees with the documents table: every hit is en
    val enIds = graft.Tables.documents(spark, sfDir)
      .where(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(enIds.contains(r.getLong(0))))
    // and at full probe the result matches the exact JSON-filtered search
    val storedFull = VectorIndex.searchStore(spark, path, qv, k = 10,
      nprobe = fullProbe,
      filter = Some(get_json_object(col("metadata"), "$.lang") === "en"
        && col("vec_id") =!= 0L))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val exact = KnnSearch.topKJsonFiltered(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(storedFull == exact)
  }

  test("store probes never shuffle: fresh, appended (its id found), compacted") {
    import spark.implicits._
    val path = Files.createTempDirectory("store_singlegen").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    def plan(): String =
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 4)
        .queryExecution.executedPlan.toString
    def result(): Seq[(Long, Double)] =
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq

    assert(deltaFiles(path) == 0)
    assert(!plan().contains("Exchange"),
      s"fresh store probe should skip generation resolution:\n${plan()}")
    val fresh = result()

    // an append flips the store to merge-on-read: the probe resolves the
    // delta through the driver-held overlay, still with no exchange, and a
    // probe aimed at the appended vector finds it
    val appended = Array.fill(64)(0.01f)
    val batch = Seq((9999L, 7, appended.toSeq))
      .toDF("vec_id", "label", "embedding")
    VectorIndex.appendStore(spark, path, batch, gen = 1L)
    assert(deltaFiles(path) > 0)
    assert(!plan().contains("Exchange"),
      s"merge-on-read probe should resolve the delta without a shuffle:\n${plan()}")
    assert(VectorIndex.searchStore(spark, path, appended, k = 1, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq == Seq(9999L))

    // compaction folds the delta away: the base scan alone, same results
    VectorIndex.compactStore(spark, path)
    assert(deltaFiles(path) == 0)
    assert(!plan().contains("Exchange"),
      s"compacted store probe should skip generation resolution:\n${plan()}")
    val compacted = result()
    // the appended vector is near-zero, far from the query: top-10 unchanged
    assert(compacted == fresh)
  }

  test("retrain-on-compact re-balances a store dominated by appended clusters") {
    import spark.implicits._
    val path = Files.createTempDirectory("store_retrain").toString
    VectorIndex.writeStore(spark, sfDir, path)

    // heavy append: three far-away clusters, 3× the base corpus combined
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    def shifted(offset: Float, idOffset: Long) = base
      .select((col("vec_id") + idOffset).as("vec_id"), col("label"),
        expr(s"transform(embedding, x -> x + CAST($offset AS FLOAT))")
          .as("embedding"))
    VectorIndex.appendStore(spark, path, shifted(10f, 10000L), gen = 1L)
    VectorIndex.appendStore(spark, path, shifted(-10f, 20000L), gen = 2L)
    VectorIndex.appendStore(spark, path, shifted(20f, 30000L), gen = 3L)

    VectorIndex.compactStore(spark, path, retrain = true)
    assert(deltaFiles(path) == 0)

    val byPartition = spark.read.parquet(s"$path/vectors")
      .groupBy(col("centroid_id")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = byPartition.values.sum
    assert(total == 2000L, s"expected 4 × 500 live rows, got $total")
    // frozen centroids leave the +10/+20 appends piled onto ONE
    // in-distribution centroid (≥ 50% of the store); after retrain no
    // partition may exceed a single cluster's share (25% + slack)
    val maxShare = byPartition.values.max.toDouble / total
    assert(maxShare <= 0.3, s"partition still dominated: $maxShare")

    // search parity: a full probe over the retrained store equals a
    // brute-force cosine top-k over the same live rows
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val stored = VectorIndex.searchStore(spark, path, qv,
      k = 10, nprobe = VectorIndex.K)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val brute = spark.read.parquet(s"$path/vectors")
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosineSim(
          col("embedding"), typedLit(qv)), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == brute)

    // and a pruned probe near an appended cluster finds its members
    val qShifted = qv.map(_ + 10f)
    val hits = VectorIndex.searchStore(spark, path, qShifted,
      k = 10, nprobe = 2)
      .collect().map(_.getLong(0))
    assert(hits.forall(id => id >= 10000L && id < 20000L),
      s"shifted probe should hit the +10 cluster: ${hits.mkString(",")}")
  }

  test("storeHealth detects drift-degraded recall, recommends retrain, and retrain restores it") {
    import spark.implicits._
    val path = Files.createTempDirectory("store_health").toString
    VectorIndex.writeStore(spark, sfDir, path)

    // healthy baseline: in-distribution queries over the fresh store —
    // BOTH serving configs (plain pruned probe and the quantized IVF-PQ
    // probe) at or above the floor
    val before = VectorIndex.storeHealth(spark, path, nprobe = 2).collect().head
    assert(before.getAs[Boolean]("healthy"),
      s"fresh store reports unhealthy: $before")
    assert(before.getAs[String]("recommendation") == "none")
    assert(!before.isNullAt(before.fieldIndex("mean_recall_pq")),
      "a PQ-carrying store must report the quantized probe's recall")
    assert(before.getAs[Double]("mean_recall_pq") >= 0.8, s"$before")

    // drift: corpus TURNOVER — the base rows tombstoned, a corpus whose
    // internal similarity structure the frozen centroids know nothing
    // about ingested in their place (the base embeddings coordinate-
    // REVERSED: a rotation, so every pairwise similarity among the new
    // rows is preserved and they keep a real, clusterable neighborhood
    // structure — but their positions are decorrelated from the trained
    // centroids, scattering each neighborhood across partitions). A
    // merely SHIFTED cluster stays position-coherent and lands in one
    // partition — pruned recall survives that; rotation is the drift
    // shape that actually degrades it. Turnover (not coexistence) is
    // also what retrain can genuinely FIX: K centroids re-fit the live
    // corpus alone, restoring fresh-store recall.
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val baseIds = base.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val drifted = base
      .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
        reverse(col("embedding")).as("embedding"))
    VectorIndex.deleteFromStore(spark, path, baseIds, gen = 1L)
    VectorIndex.appendStore(spark, path, drifted, gen = 2L)

    // drift detection probes with DRIFTED queries (ids from the fresh
    // appends — the report doc's contract: in-distribution queries keep
    // high recall under drift, it is the fresh data whose retrieval
    // silently degrades)
    val driftIds = Seq(10000L, 10001L, 10002L, 10003L, 10004L)
    val degraded = VectorIndex.storeHealth(spark, path,
      queryIds = driftIds, nprobe = 2).collect().head
    assert(!degraded.getAs[Boolean]("healthy"),
      s"drifted store reports healthy: $degraded")
    assert(degraded.getAs[String]("recommendation") ==
      "compactStore(retrain = true)")

    // the SECOND decay mechanism is degraded too: the reversed corpus's
    // per-subspace structure no longer matches the frozen codebooks, so
    // the quantized probe's ADC ranking drops below the floor (this is
    // the silent decay SURVEY.md names — measured here, and since r19
    // FIXED by the same remedy)
    val degradedPq = degraded.getAs[Double]("mean_recall_pq")
    assert(degradedPq < 0.8,
      s"turnover should degrade the quantized probe too: $degraded")

    // apply the recommended remedy; the SAME drifted queries recover —
    // for BOTH mechanisms (retrain re-fits centroids AND PQ codebooks)
    VectorIndex.compactStore(spark, path, retrain = true)
    val restored = VectorIndex.storeHealth(spark, path,
      queryIds = driftIds, nprobe = 2).collect().head
    assert(restored.getAs[Boolean]("healthy"),
      s"retrain did not restore recall: $restored")
    assert(restored.getAs[Double]("mean_recall") >
      degraded.getAs[Double]("mean_recall"))
    assert(restored.getAs[Double]("mean_recall_pq") >= 0.8 &&
      restored.getAs[Double]("mean_recall_pq") > degradedPq,
      s"codebook re-fit did not restore the quantized probe: $restored " +
        s"(was $degradedPq)")
    assert(restored.getAs[String]("recommendation") == "none")
  }

  test("newestGenIds survives a tombstone-only newest generation") {
    import spark.implicits._
    val path = Files.createTempDirectory("store_newest").toString
    VectorIndex.writeStore(spark, sfDir, path)
    // gen 1 appends five fresh ids; gen 2 (the NEWEST generation) is a
    // pure delete of five base ids — the r18 pick (`gen === max(gen) &&
    // !deleted`) returned EMPTY here and the health probe silently fell
    // back to baseline queries (ADVICE r18)
    val fresh = (10000L to 10004L)
    val batch = fresh.map(id => (id, 1, Seq.fill(64)(0.01f)))
      .toDF("vec_id", "label", "embedding")
    VectorIndex.appendStore(spark, path, batch, gen = 1L)
    VectorIndex.deleteFromStore(spark, path, Seq(0L, 1L, 2L, 3L, 4L), gen = 2L)
    assert(VectorIndex.newestGenIds(spark, path, 5) == fresh.toSeq,
      "the probe set must be the freshest LIVE survivors (gen 1), not " +
        "empty because gen 2 is tombstone-only")
    // delete the appends too: probes fall back to the gen-0 survivors
    VectorIndex.deleteFromStore(spark, path, fresh, gen = 3L)
    val g0 = VectorIndex.newestGenIds(spark, path, 5)
    assert(g0.size == 5 && g0.forall(id => id >= 5L && id < 10000L),
      s"expected lowest-id live gen-0 rows, got $g0")
  }

  test("batch store probe equals per-query store probes; one scan, broadcast probe table") {
    import org.apache.spark.sql.functions.col
    val batch = VectorIndex.corpusBatchSearch(spark, sfDir)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      "the shared scan must prune at the union of all probe sets")
    assert(plan.contains("BroadcastHashJoin"),
      "the (query, probe) table must broadcast against the pruned scan")
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val path = VectorIndex.ensureStore(spark, sfDir)
    val expected = (0L until 5L).flatMap { q =>
      val qv = graft.operators.KnnSearch.queryVector(spark, sfDir, q)
      VectorIndex.searchStore(spark, path, qv, k = 5,
        filter = Some(col("vec_id") >= 5))
        .collect().map(r => (q, r.getLong(0), r.getDouble(3)))
    }
    assert(got.sorted == expected.sorted)
  }

  test("generation time travel: asOfGen searches the store as it then was") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft_tt_").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = graft.operators.KnnSearch.queryVector(spark, sfDir, 0L)
    def top(asOf: Option[Long]): Seq[Long] =
      VectorIndex.searchStore(spark, path, qv, k = 5,
        filter = Some(col("vec_id") =!= 0L), asOfGen = asOf)
        .collect().map(_.getLong(0)).toSeq
    val base = top(None)
    // gen 1 appends a copy of the query vector: current search sees it
    VectorIndex.appendStore(spark, path,
      Seq((9001L, 7, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    assert(top(None).head == 9001L)
    // ... but the gen-0 snapshot still answers as the store then was
    assert(top(Some(0L)) == base)
    // gen 2 tombstones it: current search misses it, the gen-1 snapshot
    // still sees it
    VectorIndex.deleteFromStore(spark, path, Seq(9001L), gen = 2L)
    assert(top(None) == base)
    assert(top(Some(1L)).head == 9001L)
  }

  test("annEval's summary equals the hand-joined recall of its two inputs") {
    val exact = graft.operators.KnnSearch.batchTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val approx = VectorIndex.corpusBatchSearch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.map { case (q, es) =>
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      es.count(e => a.contains(e._2)).toDouble / 5.0
    }.toSeq
    val r = VectorIndex.annEval(spark, sfDir).collect().head
    assert(r.getLong(0) == recalls.size)
    assert(math.abs(r.getDouble(2) - recalls.sum / recalls.size) < 1e-9)
    assert(math.abs(r.getDouble(3) - recalls.min) < 1e-9)
  }
}

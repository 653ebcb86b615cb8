package graft

import graft.operators.{KnnSearch, VectorIndex}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-5 LSH store parity (VERDICT r3 item 3): the bucket-partitioned
  * store shares the IVF store's CRUD machinery — metadata-in-layout,
  * generational upsert, tombstone delete, delta-listing reads, compaction
  * — through the same layout-parameterized code path, and the same public
  * calls: the layout is chosen once at write time and read back from the
  * store by every later call on its path. */
class LshStoreSpec extends SparkSpec {

  private val Lsh = VectorIndex.LshLayout
  // nprobe = 2^StorePlanes probes every bucket → the probe is an exact scan
  private val fullProbe = 256
  private val graded = VectorIndex.LshProbes

  test("lsh store lifecycle: append resolves latest gen, delete tombstones, compact folds") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_lifecycle").toString
    VectorIndex.writeStore(spark, sfDir, path, layout = Lsh)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val noSelf = Some(col("vec_id") =!= 0L)
    val nBase = spark.read.parquet(s"$path/vectors").count()

    // a brand-new id whose embedding IS the query vector must become top-1
    val newId = 1000000L
    VectorIndex.appendStore(spark, path,
      Seq((newId, 9, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val top = VectorIndex.searchStore(spark, path, qv, k = 1,
      nprobe = fullProbe, filter = noSelf).collect()
    assert(top.head.getLong(0) == newId && top.head.getDouble(3) == 1.0)

    // update an existing id: its latest generation (new label) must win
    VectorIndex.appendStore(spark, path,
      Seq((1L, 7, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 2L)
    val res = VectorIndex.searchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf).collect()
    val v1 = res.find(_.getLong(0) == 1L).get
    assert(v1.getInt(1) == 7 && v1.getDouble(3) == 1.0)
    assert(res.map(_.getLong(0)).distinct.length == res.length)

    // appends land in the delta, not the 256-directory base layout
    assert(spark.read.parquet(s"$path/vectors").count() == nBase)
    assert(spark.read.parquet(s"$path/vectors_delta").count() == 2)
    VectorIndex.deleteFromStore(spark, path, Seq(newId), gen = 3L)
    val afterDel = VectorIndex.searchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf)
      .collect().map(_.getLong(0))
    assert(!afterDel.contains(newId))
    VectorIndex.compactStore(spark, path)
    val vecs = spark.read.parquet(s"$path/vectors")
    assert(vecs.where(col("deleted")).count() == 0)
    assert(vecs.where(col("vec_id") === newId).count() == 0)
    assert(vecs.where(col("vec_id") === 1L).count() == 1)
    assert(vecs.agg(max(col("gen"))).head.getLong(0) == 0L)
    val afterCompact = VectorIndex.searchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(afterCompact.head == ((1L, 1.0)))
  }

  test("json-filtered pruned probe on the lsh store keeps partition pruning") {
    val path = VectorIndex.ensureStore(spark, sfDir, Lsh)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val enFilter = get_json_object(col("metadata"), "$.lang") === "en" &&
      col("vec_id") =!= 0L
    val probe = VectorIndex.searchStore(spark, path, qv, k = 10,
      nprobe = graded, filter = Some(enFilter))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_grp"),
      s"bucket pruning lost under the JSON filter:\n$plan")
    val rows = probe.collect()
    assert(rows.nonEmpty)
    val enIds = Tables.documents(spark, sfDir)
      .where(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(enIds.contains(r.getLong(0))))
    // at full probe the result matches the exact JSON-filtered search
    val storedFull = VectorIndex.searchStore(spark, path, qv, k = 10,
      nprobe = fullProbe, filter = Some(enFilter))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val exact = KnnSearch.topKJsonFiltered(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(storedFull == exact)
  }

  test("streaming ingest upserts micro-batches into the lsh store as generations") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_stream_store").toString
    VectorIndex.writeStore(spark, sfDir, path, layout = Lsh)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    val dir = Files.createTempDirectory("lsh_vec_stream").toString
    Seq((3000000L, 8, qv.toSeq), (3000001L, 9, qv.toSeq))
      .toDF("vec_id", "label", "embedding")
      .repartition(2)
      .write.mode("overwrite").json(dir)

    val q = graft.streaming.StoreStream.ingest(spark, dir, path,
      startGen = 1L,
      checkpointDir = Files.createTempDirectory("lsh_stream_ckpt").toString)
    try q.processAllAvailable()
    finally q.stop()

    val top = VectorIndex.searchStore(spark, path, qv, k = 2,
      nprobe = fullProbe, filter = Some(col("vec_id") =!= 0L)).collect()
    assert(top.map(_.getLong(0)).toSet == Set(3000000L, 3000001L))
    assert(top.forall(_.getDouble(3) == 1.0))
  }

  test("lsh store single-gen fast path: no exchange fresh, resolution after append, restored by compact") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_singlegen").toString
    VectorIndex.writeStore(spark, sfDir, path, layout = Lsh)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    def plan(): String =
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = graded)
        .queryExecution.executedPlan.toString
    def result(): Seq[(Long, Double)] =
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = graded)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq

    assert(deltaFiles(path) == 0)
    assert(!plan().contains("Exchange"),
      s"fresh lsh store probe should skip generation resolution:\n${plan()}")
    val fresh = result()

    // merge-on-read resolves the delta through the driver-held overlay:
    // still no exchange, and a probe aimed at the appended vector finds it
    val appended = Array.fill(64)(0.01f)
    val batch = Seq((9999L, 7, appended.toSeq))
      .toDF("vec_id", "label", "embedding")
    VectorIndex.appendStore(spark, path, batch, gen = 1L)
    assert(deltaFiles(path) > 0)
    assert(!plan().contains("Exchange"),
      s"merge-on-read lsh store probe should not shuffle:\n${plan()}")
    assert(VectorIndex.searchStore(spark, path, appended, k = 1, nprobe = graded)
      .collect().map(_.getLong(0)).toSeq == Seq(9999L))

    VectorIndex.compactStore(spark, path)
    assert(deltaFiles(path) == 0)
    assert(!plan().contains("Exchange"),
      s"compacted lsh store probe should skip generation resolution:\n${plan()}")
    // the appended vector is near-zero, far from the query: top-10 unchanged
    assert(result() == fresh)
  }

  test("batch lsh probe equals per-query store probes; one scan, broadcast probe table") {
    import org.apache.spark.sql.functions.col
    val batch = VectorIndex.corpusBatchSearch(spark, sfDir, Lsh, nprobe = graded)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_grp"),
      "the shared scan must prune at the union of all probe sets")
    assert(plan.contains("BroadcastHashJoin"),
      "the (query, bucket) probe table must broadcast against the pruned scan")
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val path = VectorIndex.ensureStore(spark, sfDir, Lsh)
    val expected = (0L until 5L).flatMap { q =>
      val qv = graft.operators.KnnSearch.queryVector(spark, sfDir, q)
      VectorIndex.searchStore(spark, path, qv, k = 5,
        nprobe = graded, filter = Some(col("vec_id") >= 5))
        .collect().map(r => (q, r.getLong(0), r.getDouble(3)))
    }
    assert(got.sorted == expected.sorted)
  }

  test("lsh store MMR at full probe equals the exact-scan MMR") {
    // nprobe = 2^StorePlanes probes every bucket, so the fetchK candidate
    // set is the exact top-fetchK and the shared greedy must select the
    // same sequence as the inline retriever-mode MMR (knn_mmr's oracle)
    val stored = VectorIndex.corpusMmr(spark, sfDir, Lsh, nprobe = fullProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    val exact = KnnSearch.mmrTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(exact.nonEmpty)
    assert(stored.toSeq == exact.toSeq)
    // the graded probe (nprobe = LshProbes) still fills k from the
    // multi-probe neighborhood and selects rank-1 = the best probed hit
    val pruned = VectorIndex.corpusMmr(spark, sfDir, Lsh, nprobe = graded)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(pruned.length == 10)
    assert(pruned.map(_._2).toSeq == (1 to 10))
  }

  test("lsh threshold search at full probe equals the exact threshold scan") {
    val path = VectorIndex.ensureStore(spark, sfDir, Lsh)
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
    // graded probe (nprobe = LshProbes): hits are a subset of the exact
    // threshold set — the probe's recall contract
    val pruned = VectorIndex.corpusThreshold(spark, sfDir, Lsh, nprobe = graded)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(pruned.nonEmpty && pruned.subsetOf(exact))
  }

  test("annEval on the LSH layout equals the hand-joined recall of its two inputs") {
    val exact = graft.operators.KnnSearch.batchTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val approx = VectorIndex.corpusBatchSearch(spark, sfDir, Lsh, nprobe = graded)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.map { case (q, es) =>
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      es.count(e => a.contains(e._2)).toDouble / 5.0
    }.toSeq
    val r = VectorIndex.annEval(spark, sfDir, Lsh, nprobe = graded).collect().head
    assert(r.getLong(0) == recalls.size)
    assert(math.abs(r.getDouble(2) - recalls.sum / recalls.size) < 1e-9)
    assert(math.abs(r.getDouble(3) - recalls.min) < 1e-9)
  }

  test("one store API drives every lifecycle call on an LSH-layout store") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_one_api").toString
    VectorIndex.writeStore(spark, sfDir, path, layout = Lsh)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val noSelf = Some(col("vec_id") =!= 0L)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    // the layout rides the store's session entry: a warm search on an
    // already-read store builds nothing new for it
    def storeEntries = graft.SessionState.entries
      .filter(e => e.scope == path || e.scope.startsWith(path + "/"))
      .map(e => (e.family, e.scope, e.params)).toSet
    val fresh = VectorIndex.searchStore(spark, path, qv, nprobe = graded)
    assert(fresh.columns.toSeq == Seq("vec_id", "label", "bucket", "score"))
    fresh.collect()
    val warmBefore = storeEntries
    assert(warmBefore.exists(_._1 == "storemodel"))
    ids(VectorIndex.searchStore(spark, path, qv, nprobe = graded))
    assert(storeEntries == warmBefore,
      s"warm searchStore built session entries: ${storeEntries.diff(warmBefore)}")

    // append: a new id at the query vector lands in the query's own
    // bucket, the cheapest probe
    val newId = 7000000L
    VectorIndex.appendStore(spark, path,
      Seq((newId, 9, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val top = VectorIndex.searchStore(spark, path, qv, k = 1, nprobe = graded,
      filter = noSelf).collect()
    assert(top.head.getLong(0) == newId && top.head.getDouble(3) == 1.0)
    // threshold mode through the same call
    val hits = VectorIndex.searchStore(spark, path, qv, nprobe = fullProbe,
      filter = noSelf, scoreThreshold = Some(0.2))
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(hits.exists(_ == ((newId, 1.0))) && hits.forall(_._2 >= 0.2))
    // MMR: the exact match is the first pick
    val mmr = VectorIndex.mmrSearchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf).collect()
    assert(mmr.head.getLong(0) == newId && mmr.length == 3)

    VectorIndex.deleteFromStore(spark, path, Seq(newId), gen = 2L)
    assert(!ids(VectorIndex.searchStore(spark, path, qv, nprobe = fullProbe,
      filter = noSelf)).contains(newId))

    // the IVF-only maintenance calls reject the layout by name, and leave
    // the store as it was
    val health = intercept[IllegalArgumentException](
      VectorIndex.storeHealth(spark, path))
    assert(health.getMessage.contains("LSH layout") &&
      health.getMessage.contains("data-independent"), health.getMessage)
    val retrain = intercept[IllegalArgumentException](
      VectorIndex.compactStore(spark, path, retrain = true))
    assert(retrain.getMessage.contains("LSH layout") &&
      retrain.getMessage.contains("data-independent"), retrain.getMessage)
    assert(deltaFiles(path) > 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_writer_lease")))

    VectorIndex.compactStore(spark, path)
    assert(deltaFiles(path) == 0)
    val compacted = ids(VectorIndex.searchStore(spark, path, qv,
      nprobe = graded, filter = noSelf))
    assert(!compacted.contains(newId) && compacted.length == 10)

    // recovery rolls an interrupted swap forward on the bucket layout;
    // the store reads its layout back from disk afterwards
    def copy(src: String, dst: String): Unit = {
      val f = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(f, new org.apache.hadoop.fs.Path(src),
        f, new org.apache.hadoop.fs.Path(dst), false,
        spark.sparkContext.hadoopConfiguration): Unit
    }
    copy(s"$path/vectors", s"$path/vectors_compact")
    copy(s"$path/planes", s"$path/planes_retrain")
    Files.move(java.nio.file.Paths.get(s"$path/vectors"),
      java.nio.file.Paths.get(s"$path/vectors_old"))
    VectorIndex.recoverStore(spark, path)
    assert(Seq("vectors_old", "vectors_compact", "planes_retrain")
      .forall(d => !Files.exists(java.nio.file.Paths.get(s"$path/$d"))))
    assert(storeEntries.isEmpty, "recovery must drop the store's entries")
    assert(ids(VectorIndex.searchStore(spark, path, qv, nprobe = graded,
      filter = noSelf)) == compacted)
  }
}

package graft

import graft.operators.{KnnSearch, VectorIndex}
import java.nio.file.Files

class IvfStoreSpec extends SparkSpec {

  test("partitioned IVF store: pruned search matches the inline probe, plan prunes partitions") {
    val path = Files.createTempDirectory("ivf_store").toString
    VectorIndex.writeStore(spark, sfDir, path)

    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val stored = VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 4)

    // the partition predicate must reach the file index, not a post-scan
    // filter: PartitionFilters lists centroid_id, and only nprobe of the
    // k=16 directories survive
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"partition filter not pushed:\n$plan")

    val inline = VectorIndex.ivfSearch(spark, sfDir, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    // stored search includes vec 0 itself (the inline probe excludes the
    // query row); compare on the shared contract: same clusters, same
    // scores for the common ids
    val storedMap = stored.collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val common = inline.filter { case (id, _) => storedMap.contains(id) }
    assert(common.nonEmpty)
    common.foreach { case (id, s) => assert(storedMap(id) == s) }
  }

  test("MLlib-trained centroids drive the same partitioned store and pruned search") {
    import org.apache.spark.sql.functions.col
    val centers = VectorIndex.trainCentroidsML(spark, sfDir)
    assert(centers.length == VectorIndex.K)
    assert(centers.forall(_.length == 64))
    val path = Files.createTempDirectory("ivf_store_ml").toString
    VectorIndex.writeStore(spark, sfDir, path, Some(centers))
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val res = VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 4)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"))
    val rows = res.collect()
    assert(rows.length == 10)
    // pruned-search scores are the exact cosine scores for the ids returned
    val exact = KnnSearch.topK(spark, sfDir, KnnSearch.Cosine, k = 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.filter(_.getLong(0) != 0L).foreach { r =>
      assert(exact(r.getLong(0)) == r.getDouble(3))
    }
  }

  test("filtered store search cannot resurrect a superseded generation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_filter_gen").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    // take a stored vector with label 3 and update its label to 9
    val victimRow = spark.read.parquet(s"$path/vectors")
      .where(col("label") === 3).orderBy("vec_id").head()
    val victim = victimRow.getLong(0)
    val vEmb = victimRow.getSeq[Float](victimRow.fieldIndex("embedding"))
    VectorIndex.appendStore(spark, path,
      Seq((victim, 9, vEmb)).toDF("vec_id", "label", "embedding"), gen = 1L)
    // a label=3 filter must NOT return the superseded generation of victim
    val with3 = VectorIndex.searchStore(spark, path, qv, k = 500, nprobe = 16,
      Some(col("label") === 3)).collect().map(_.getLong(0))
    assert(!with3.contains(victim))
    // and the live version is visible under its new label
    val with9 = VectorIndex.searchStore(spark, path, qv, k = 500, nprobe = 16,
      Some(col("label") === 9)).collect().map(_.getLong(0))
    assert(with9.contains(victim))
  }

  test("getByIds fetches current rows: latest gen wins, tombstones hide, time travel sees back (r13)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_get_by_ids").toString
    VectorIndex.writeStore(spark, sfDir, path)
    // a store without a delta: the In filter reaches the scan
    val fresh = VectorIndex.getByIds(spark, path, Seq(1L, 5L, 9L))
    val plan = fresh.queryExecution.executedPlan.toString
    assert(plan.contains("In(vec_id") && plan.contains("PushedFilters"),
      s"id filter not pushed to the scan:\n$plan")
    val freshRows = fresh.collect()
    assert(freshRows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 9L))
    assert(freshRows.forall(r => r.getString(2) != null), "metadata missing")
    // update id 1 (new label, same embedding) as gen 1 → lookup resolves it
    val v1 = spark.read.parquet(s"$path/vectors")
      .where(col("vec_id") === 1L).head()
    val emb = v1.getSeq[Float](v1.fieldIndex("embedding"))
    VectorIndex.appendStore(spark, path,
      Seq((1L, 77, emb)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val updated = VectorIndex.getByIds(spark, path, Seq(1L)).collect()
    assert(updated.length == 1 && updated.head.getInt(1) == 77,
      s"latest generation not resolved: ${updated.toSeq}")
    // tombstone id 5 → lookup no longer returns it
    VectorIndex.deleteFromStore(spark, path, Seq(5L), gen = 2L)
    val afterDel = VectorIndex.getByIds(spark, path, Seq(1L, 5L, 9L))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(afterDel == Seq(1L, 9L), s"tombstone leaked: $afterDel")
    // time travel to gen 0 sees the original label and the deleted id
    val asOf = VectorIndex.getByIds(spark, path, Seq(1L, 5L), asOfGen = Some(0L))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asOf.keySet == Set(1L, 5L))
    assert(asOf(1L) == v1.getInt(1), "time travel returned the updated label")
  }

  test("streaming ingest upserts micro-batches into the store as generations") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_stream_store").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    val dir = Files.createTempDirectory("vec_stream").toString
    Seq((2000000L, 8, qv.toSeq), (2000001L, 9, qv.toSeq))
      .toDF("vec_id", "label", "embedding")
      .repartition(2)
      .write.mode("overwrite").json(dir)

    val q = graft.streaming.StoreStream.ingest(spark, dir, path, startGen = 1L,
      checkpointDir = Files.createTempDirectory("vec_stream_ckpt").toString)
    try q.processAllAvailable()
    finally q.stop()

    val top = VectorIndex.searchStore(spark, path, qv, k = 2, nprobe = 16,
      Some(col("vec_id") =!= 0L)).collect()
    assert(top.map(_.getLong(0)).toSet == Set(2000000L, 2000001L))
    assert(top.forall(_.getDouble(3) == 1.0))
  }

  test("lsh store search prunes bucket partitions and matches the inline probe") {
    val stored = VectorIndex.corpusSearch(spark, sfDir,
      VectorIndex.LshLayout, nprobe = VectorIndex.LshProbes)
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_grp"),
      s"bucket partition filter not pushed:\n$plan")
    val inline = VectorIndex.lshSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val fromStore = stored.collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(fromStore == inline)
  }

  test("incremental upsert: appends resolve to the latest generation; compaction folds them") {
    import org.apache.spark.sql.functions.{col, max}
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_upsert").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val noSelf = Some(col("vec_id") =!= 0L)
    val nBase = spark.read.parquet(s"$path/vectors").count()

    // add a brand-new id whose embedding IS the query vector
    val newId = 1000000L
    VectorIndex.appendStore(spark, path,
      Seq((newId, 9, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val top = VectorIndex.searchStore(spark, path, qv, k = 1, nprobe = 16, noSelf)
      .collect()
    assert(top.head.getLong(0) == newId && top.head.getDouble(3) == 1.0)

    // update an existing id (vec 1 gets the query embedding, new label)
    VectorIndex.appendStore(spark, path,
      Seq((1L, 7, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 2L)
    val res = VectorIndex.searchStore(spark, path, qv, k = 3, nprobe = 16, noSelf)
      .collect()
    val v1 = res.find(_.getLong(0) == 1L).get
    assert(v1.getInt(1) == 7 && v1.getDouble(3) == 1.0)
    assert(res.map(_.getLong(0)).distinct.length == res.length)

    // the base layout is untouched by appends — both rows landed in the
    // append delta (one file per micro-batch); compaction folds them into
    // the partitioned layout and drops the delta
    assert(spark.read.parquet(s"$path/vectors").count() == nBase)
    assert(spark.read.parquet(s"$path/vectors_delta").count() == 2)
    VectorIndex.compactStore(spark, path)
    val after = spark.read.parquet(s"$path/vectors")
    assert(after.count() == nBase + 1)
    assert(!new java.io.File(s"$path/vectors_delta").exists())
    assert(after.agg(max(col("gen"))).head.getLong(0) == 0L)
    val res2 = VectorIndex.searchStore(spark, path, qv, k = 3, nprobe = 16, noSelf)
      .collect()
    assert(res2.map(r => (r.getLong(0), r.getDouble(3))).toSeq ==
      res.map(r => (r.getLong(0), r.getDouble(3))).toSeq)

    // tombstone delete: the top hit disappears from search without a
    // rewrite, a later re-add resurrects it, compaction drops tombstones
    val victim = res2.head.getLong(0)
    VectorIndex.deleteFromStore(spark, path, Seq(victim), gen = 3L)
    val afterDel = VectorIndex.searchStore(spark, path, qv, k = 3, nprobe = 16, noSelf)
      .collect().map(_.getLong(0))
    assert(!afterDel.contains(victim))
    VectorIndex.appendStore(spark, path,
      Seq((victim, 5, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 4L)
    val afterReadd = VectorIndex.searchStore(spark, path, qv, k = 3, nprobe = 16, noSelf)
      .collect()
    assert(afterReadd.map(_.getLong(0)).contains(victim))
    assert(afterReadd.find(_.getLong(0) == victim).get.getInt(1) == 5)
    VectorIndex.compactStore(spark, path)
    val vecs = spark.read.parquet(s"$path/vectors")
    assert(vecs.where(col("deleted")).count() == 0)
    assert(vecs.where(col("vec_id") === victim).count() == 1)
  }

  test("merge-on-read keeps partition pruning on the base branch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_delta_prune").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    VectorIndex.appendStore(spark, path,
      Seq((3000000L, 9, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val df = VectorIndex.searchStore(spark, path, qv, k = 5, nprobe = 4,
      Some(col("vec_id") =!= 0L))
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    // the delta union must not cost the base scan its directory pruning:
    // the partitioned branch keeps its centroid_id PartitionFilters even
    // with the (unpartitioned, filter-scanned) delta unioned in
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"delta union lost base partition pruning:\n$plan")
  }
}

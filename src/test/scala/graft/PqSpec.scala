package graft

import graft.functions.IndexOps
import java.nio.file.Files

import graft.operators.{KnnSearch, TextStore, VectorIndex}
import org.apache.spark.sql.functions._

/** Product-quantization specs: the trained codebooks are fixed-point
  * integer state (bit-identical under any partitioning), the build
  * assignment is the true per-subspace argmin, and the ADC score is the
  * exact integer inner product against the quantized reconstruction. */
class PqSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  /** A corpus of sf0.001's first 10 vectors: under K = 16 vectors, so
    * its codebooks hold fewer than K codes. */
  private lazy val narrowDir: String = {
    val dir = Files.createTempDirectory("graft_pq_narrow_").toString
    Tables.embeddings(spark, sfDir).orderBy(col("vec_id")).limit(10)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("pq training is bit-identical under arbitrary repartitioning") {
    val a = VectorIndex.trainPq(emb)
    val b = VectorIndex.trainPq(emb.repartition(7).sortWithinPartitions("embedding"))
    assert(a.length == b.length)
    a.indices.foreach { s =>
      a(s).indices.foreach { c =>
        assert(a(s)(c).sameElements(b(s)(c)), s"sub $s code $c differs")
      }
    }
  }

  test("build codes are the true per-subspace fixed-point argmin") {
    val cb = VectorIndex.trainPqCodebooks(spark, sfDir)
    val cbQ = cb.map(_.map(_.map(f => IndexOps.quantize(f.toDouble))))
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = VectorIndex.pqBuild(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.size == vecs.size * VectorIndex.PqM)
    vecs.foreach { case (id, v) =>
      (0 until VectorIndex.PqM).foreach { s =>
        val q = Array.tabulate(VectorIndex.PqSubDim)(d =>
          IndexOps.quantize(v(s * VectorIndex.PqSubDim + d).toDouble))
        val best = cbQ(s).zipWithIndex.minBy { case (ctr, cid) =>
          (ctr.zip(q).map { case (cq, x) => (x - cq) * (x - cq) }.sum, cid)
        }._2
        assert(codes((id, s)) == best, s"vec $id sub $s")
      }
    }
  }

  test("ivf-pq store search: phase-1 reads codes not embeddings, prunes partitions") {
    val res = VectorIndex.ivfPqSearchStore(spark, sfDir)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      "phase-1 must prune the coarse partitions at the file index")
    // the ADC scan's projection must exclude the embedding column: the
    // 32x payload cut is the point of the codes column. The re-rank scan
    // legitimately reads embeddings, so assert on the FileScan LINE whose
    // ReadSchema carries `codes`.
    val scanLines = plan.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    val adcScan = scanLines.find(_.contains("codes"))
    assert(adcScan.isDefined, "an ADC FileScan over the codes column exists")
    assert(!adcScan.get.contains("embedding"),
      "the ADC scan must not read the embedding column")
    // and it agrees with the full-replay contract: top-10 ids are a
    // subset of the probed exact ranking at the same nprobe
    val ivf = VectorIndex.corpusSearch(spark, sfDir, k = 50)
      .collect().map(_.getLong(0)).toSet
    assert(res.collect().map(_.getLong(0)).forall(ivf.contains))
  }

  test("ivf-pq search reflects appends: codes column maintained by the CRUD paths") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pq_crud_").toString
    VectorIndex.writeStore(spark, sfDir, path)
    // append a vector identical to the query: it must surface at the top
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val batch = Seq((9001L, 7, qv.toSeq)).toDF("vec_id", "label", "embedding")
    VectorIndex.appendStore(spark, path, batch, gen = 1L)
    // exclude the query row itself: vec 0 ties the appended copy at
    // cosine 1.0 and would win the id tie-break
    def top(k: Int) =
      VectorIndex.ivfPqSearchStoreAt(spark, path, qv, k = k,
        excludeId = Some(0L))
        .collect().map(_.getLong(0)).toSeq
    assert(top(10).head == 9001L, "appended near-identical vector wins ADC + re-rank")
    VectorIndex.compactStore(spark, path)
    assert(top(10).head == 9001L, "compaction preserves the codes column")
  }

  test("batch PQ search equals the single-query path for a coinciding corpus") {
    // nQueries=1 makes the two corpus exclusions identical (vec_id >= 1
    // vs vec_id != 0), so batch-through-LUT-table must reproduce the
    // single-query pipeline's rows exactly, in rank order
    for (dir <- Seq(sfDir, narrowDir)) {
      val batch = VectorIndex.batchPqSearch(spark, dir, nQueries = 1,
        k = 5, fetchK = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val single = VectorIndex.pqSearch(spark, dir, k = 5, fetchK = 100,
        queryVecId = 0L).collect()
        .zipWithIndex
        .map { case (r, i) => (0L, r.getLong(0), r.getDouble(3), i + 1) }
      assert(batch.nonEmpty, dir)
      assert(batch.toSeq == single.toSeq,
        s"$dir: batch=${batch.toSeq} single=${single.toSeq}")
    }
  }

  test("batch ivf-pq: phase-1 reads codes not embeddings, prunes partitions") {
    val res = VectorIndex.batchIvfPqSearchStore(spark, sfDir)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      "phase-1 must prune the coarse partitions at the file index")
    // the batch ADC scan's projection must exclude the embedding column —
    // same pin as the single-query store path: the payload cut is the
    // point of the persisted codes. The re-rank scan reads embeddings.
    val scanLines = plan.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    val adcScan = scanLines.find(_.contains("codes"))
    assert(adcScan.isDefined, "an ADC FileScan over the codes column exists")
    assert(!adcScan.get.contains("embedding"),
      "the batch ADC scan must not read the embedding column")
  }

  test("batch ivf-pq at full probe equals the inline batch PQ search") {
    // nprobe = K probes every partition, so the store-backed path covers
    // the same candidate universe as the inline codes recompute — results
    // must coincide row for row (the stored codes ARE pqCodesCol's values)
    val store = VectorIndex.batchIvfPqSearchStore(spark, sfDir,
      nprobe = 16, fetchK = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val inline = VectorIndex.batchPqSearch(spark, sfDir, fetchK = 100)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(store.toSeq == inline.toSeq)
  }

  test("batch ivf-pq equals the single-query store path for a coinciding corpus") {
    // nQueries=1 makes the exclusions identical (vec_id >= 1 vs != 0)
    val batch = VectorIndex.batchIvfPqSearchStore(spark, sfDir,
      nQueries = 1, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val single = VectorIndex.ivfPqSearchStore(spark, sfDir, k = 5)
      .collect().zipWithIndex
      .map { case (r, i) => (0L, r.getLong(0), r.getDouble(3), i + 1) }
    assert(batch.toSeq == single.toSeq,
      s"batch=${batch.toSeq} single=${single.toSeq}")
  }

  test("annEvalIvfPq's summary equals the hand-joined recall of its two inputs") {
    val exact = graft.operators.KnnSearch.batchTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val approx = VectorIndex.batchIvfPqSearchStore(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.map { case (q, es) =>
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      es.count(e => a.contains(e._2)).toDouble / 5.0
    }.toSeq
    val r = VectorIndex.annEvalIvfPq(spark, sfDir).collect().head
    assert(r.getLong(0) == recalls.size)
    assert(math.abs(r.getDouble(2) - recalls.sum / recalls.size) < 1e-9)
    assert(math.abs(r.getDouble(3) - recalls.min) < 1e-9)
  }

  test("ADC equals the integer dot against the quantized reconstruction") {
    for (dir <- Seq(sfDir, narrowDir)) {
      val cb = VectorIndex.trainPqCodebooks(spark, dir)
      if (dir == narrowDir)
        assert(cb.forall(_.length < VectorIndex.K), "narrow codebooks")
      val cbQ = cb.map(_.map(_.map(f => IndexOps.quantize(f.toDouble))))
      val qv = KnnSearch.queryVector(spark, dir, 0L)
      val qq = qv.map(x => IndexOps.quantize(x.toDouble))
      val codes = VectorIndex.pqBuild(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
      val got = VectorIndex.pqSearch(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got.nonEmpty, dir)
      got.foreach { case (id, adc) =>
        val expected = (0 until VectorIndex.PqM).map { s =>
          val ctr = cbQ(s)(codes((id, s)))
          (0 until VectorIndex.PqSubDim)
            .map(d => qq(s * VectorIndex.PqSubDim + d) * ctr(d)).sum
        }.sum
        assert(adc == expected, s"$dir: vec $id adc")
      }
    }
  }

  test("PQ-less stores append no codes; a retrained store serves what a cold read serves") {
    import spark.implicits._
    def tmp(p: String) = Files.createTempDirectory(p).toString
    def hasCodes(dir: String) =
      spark.read.parquet(dir).columns.contains("codes")
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    // an LSH store and a chunk store carry no codebooks: neither their
    // base nor an append's delta has a `codes` column
    val lsh = tmp("graft_pq_lsh_")
    VectorIndex.writeStore(spark, sfDir, lsh, layout = VectorIndex.LshLayout)
    VectorIndex.appendStore(spark, lsh,
      Seq((9001L, 7, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val chunks = tmp("graft_pq_chunk_")
    TextStore.writeChunkStore(spark, sfDir, chunks)
    TextStore.addTexts(spark, chunks,
      Seq((900001L, "zyqfluor baztringle quopamid " * 8, "en"))
        .toDF("doc_id", "text", "lang"), gen = 1L)
    for (p <- Seq(lsh, chunks)) {
      assert(!hasCodes(s"$p/vectors"), s"$p base")
      assert(deltaFiles(p) == 1 && !hasCodes(s"$p/vectors_delta"), s"$p delta")
    }

    // after a retrain the warm session's model entry (new centroids and
    // codebooks) must serve exactly what a read from disk serves
    val ivf = tmp("graft_pq_retrain_")
    VectorIndex.writeStore(spark, sfDir, ivf)
    VectorIndex.appendStore(spark, ivf,
      Seq((9001L, 7, qv.map(_ * 0.5f).toSeq)).toDF("vec_id", "label", "embedding"),
      gen = 1L)
    VectorIndex.compactStore(spark, ivf, retrain = true)
    assert(hasCodes(s"$ivf/vectors"))
    val queries = KnnSearch.queryVectors(spark, sfDir, 3).toSeq
    def answers = (
      VectorIndex.ivfPqSearchStoreAt(spark, ivf, qv, k = 10).collect().toSeq,
      VectorIndex.batchIvfPqSearchStoreAt(spark, ivf, queries, k = 5,
        nprobe = 4, fetchK = 50, excludeBelow = None).collect().toSeq)
    val warm = answers
    SessionState.invalidatePath(ivf)
    val cold = answers
    assert(warm._1.nonEmpty && warm._2.nonEmpty)
    assert(warm == cold, s"warm=$warm\ncold=$cold")
  }
}

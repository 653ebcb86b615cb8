package graft

import graft.operators.{KnnSearch, VectorIndex}
import graft.streaming.StoreStream
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Pins the single-writer lease (r17, VERDICT r16 item 2): the gen
  * receipt and stale-_temporary cleanup are sound only under one writer,
  * which used to be a doc-comment contract — now a second writer fails
  * fast instead of silently corrupting gen accounting. */
class WriterLeaseSpec extends SparkSpec {

  private def leaseFile(store: String) = Paths.get(s"$store/_writer_lease")

  private def vecBatch(base: Long): DataFrame = {
    import spark.implicits._
    val qv = KnnSearch.queryVector(spark, sfDir, 0L).toSeq
    Seq((base, 8, qv), (base + 1, 9, qv))
      .toDF("vec_id", "label", "embedding")
  }

  test("batch writers lease per call and leave the store unlocked") {
    val store = Files.createTempDirectory("lease_batch").toString
    VectorIndex.writeStore(spark, sfDir, store)
    VectorIndex.appendStore(spark, store, vecBatch(5100000L), gen = 1L)
    assert(!Files.exists(leaseFile(store)),
      "append left its per-call lease behind")
    VectorIndex.deleteFromStore(spark, store, Seq(5100000L), gen = 2L)
    VectorIndex.compactStore(spark, store)
    VectorIndex.recoverStore(spark, store)
    assert(!Files.exists(leaseFile(store)))
  }

  test("a held lease rejects every batch writer, naming the holder") {
    val store = Files.createTempDirectory("lease_held").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val owner = "stream:/ckpt/held-by-a-stream"
    assert(VectorIndex.acquireWriterLease(spark, store, owner).isDefined)
    val e = intercept[IllegalStateException](
      VectorIndex.appendStore(spark, store, vecBatch(5200000L), gen = 1L))
    assert(e.getMessage.contains(owner) &&
      e.getMessage.contains("breakWriterLease"),
      s"rejection must name the holder and the remedy: ${e.getMessage}")
    intercept[IllegalStateException](
      VectorIndex.deleteFromStore(spark, store, Seq(0L), gen = 2L))
    intercept[IllegalStateException](VectorIndex.compactStore(spark, store))
    // the rejected append must not have landed anything
    assert(!VectorIndex.genExists(spark, store, 1L))
    VectorIndex.releaseWriterLease(spark, store, owner)
    VectorIndex.appendStore(spark, store, vecBatch(5200000L), gen = 1L)
    assert(VectorIndex.genExists(spark, store, 1L))
  }

  test("acquisition is reentrant by owner; inner release keeps the lease") {
    val store = Files.createTempDirectory("lease_reentrant").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val owner = "stream:/ckpt/reentrant"
    assert(VectorIndex.acquireWriterLease(spark, store, owner).isDefined)
    // the stream's own foreachBatch path: same owner, append succeeds and
    // the stream-lifetime lease survives the inner call's release
    VectorIndex.appendStoreAs(spark, store, vecBatch(5300000L), 1L, owner)
    assert(Files.exists(leaseFile(store)),
      "reentrant inner call released the outer holder's lease")
    // re-acquiring one's own lease reports not-created (restart semantics)
    assert(VectorIndex.acquireWriterLease(spark, store, owner).isEmpty)
    // a foreign release is a no-op
    VectorIndex.releaseWriterLease(spark, store, "someone-else")
    assert(Files.exists(leaseFile(store)))
    VectorIndex.releaseWriterLease(spark, store, owner)
    assert(!Files.exists(leaseFile(store)))
  }

  test("owners never alias by prefix, and epochs fence stale releases") {
    val store = Files.createTempDirectory("lease_epoch").toString
    VectorIndex.writeStore(spark, sfDir, store)
    // a space-containing owner must not be reentrant for its prefix
    // (checkpoint paths may contain spaces: '/ck/a b' vs '/ck/a')
    assert(VectorIndex.acquireWriterLease(
      spark, store, "stream:/ck/a b").isDefined)
    intercept[IllegalStateException](
      VectorIndex.acquireWriterLease(spark, store, "stream:/ck/a"))
    VectorIndex.releaseWriterLease(spark, store, "stream:/ck/a b")
    // incarnation 1 creates; a restart re-stamps the epoch; incarnation
    // 1's late exact-content release must then be a NO-OP (the bug class:
    // a stale termination event deleting a successor's live lease)
    val owner = "stream:/ck/epoch"
    val c1 = VectorIndex.acquireWriterLease(spark, store, owner).get
    val c2 = VectorIndex.refreshWriterLease(spark, store, owner)
    assert(c1 != c2)
    VectorIndex.releaseWriterLeaseExact(spark, store, c1)
    assert(Files.exists(leaseFile(store)),
      "stale incarnation's release deleted the successor's lease")
    VectorIndex.releaseWriterLeaseExact(spark, store, c2)
    assert(!Files.exists(leaseFile(store)))
  }

  test("a live same-session duplicate start fails fast and leaves the running stream's lease intact") {
    val store = Files.createTempDirectory("lease_dup_store").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val dir = Files.createTempDirectory("lease_dup_src").toString
    vecBatch(5700000L).write.mode("overwrite").json(dir)
    val ckpt = Files.createTempDirectory("lease_dup_ck").toString
    val q = StoreStream.ingest(spark, dir, store, ckpt)
    try {
      q.processAllAvailable()
      // the r17 review's bug class: a second start on the SAME checkpoint
      // used to steal the lease epoch and, when Spark rejected the
      // duplicate, tear the lease down under the live query
      intercept[IllegalStateException](
        StoreStream.ingest(spark, dir, store, ckpt))
      assert(Files.exists(leaseFile(store)),
        "failed duplicate start released the running stream's lease")
      // and the running stream still ingests under its lease
      intercept[IllegalStateException](
        VectorIndex.appendStore(spark, store, vecBatch(5800000L), gen = 98L))
    } finally q.stop()
    q.awaitTermination()
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (Files.exists(leaseFile(store)) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(!Files.exists(leaseFile(store)))
  }

  private def localHost: String =
    java.net.InetAddress.getLocalHost.getHostName

  /** Manufacture a lease file as a crashed writer would leave it: the
    * owner line plus the pid/host/domain diagnostics line acquisition
    * parses. Defaults to THIS process's pid domain (the reapable shape);
    * pass a foreign domain to model a colliding-hostname container. */
  private def plantLease(
      store: String, owner: String, pid: Long, host: String,
      domain: String = VectorIndex.pidDomain,
      pidStart: Option[Long] = None): Unit =
    Files.writeString(leaseFile(store),
      s"$owner\nepoch=test-epoch ts=2026-08-16T00:00:00Z pid=$pid " +
        s"host=$host piddomain=$domain" +
        pidStart.map(s => s" pidstart=$s").getOrElse(""))

  /** A pid that provably belonged to a real process on this host and is
    * now dead — the kill -9'd batch holder of VERDICT r17 item 2. */
  private def killedPid(): Long = {
    val p = new ProcessBuilder("sleep", "1000").start()
    val pid = p.pid()
    p.destroyForcibly()
    p.waitFor()
    pid
  }

  test("acquisition auto-reaps a provably-dead same-host batch holder") {
    val store = Files.createTempDirectory("lease_reap").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val pid = killedPid()
    plantLease(store, s"append:pid=$pid:dead-uuid", pid, localHost)
    // the r17 behavior this replaces: bricked until breakWriterLease.
    // Now the next batch writer reaps the dead holder and proceeds.
    VectorIndex.appendStore(spark, store, vecBatch(6100000L), gen = 1L)
    assert(VectorIndex.genExists(spark, store, 1L))
    assert(!Files.exists(leaseFile(store)),
      "reaping writer left its own per-call lease behind")
  }

  test("auto-reap refuses: live pid, stream owner, foreign domain, no domain") {
    val store = Files.createTempDirectory("lease_noreap").toString
    VectorIndex.writeStore(spark, sfDir, store)
    def rejectedWith(owner: String, pid: Long, host: String,
        domain: String = VectorIndex.pidDomain,
        pidStart: Option[Long] = None): Unit = {
      plantLease(store, owner, pid, host, domain, pidStart)
      val e = intercept[IllegalStateException](
        VectorIndex.appendStore(spark, store, vecBatch(6200000L), gen = 9L))
      assert(e.getMessage.contains("breakWriterLease"))
      VectorIndex.breakWriterLease(spark, store)
    }
    // a LIVE batch holder (this JVM's pid) is a running writer, not debris
    rejectedWith(s"append:pid=${ProcessHandle.current().pid()}:live",
      ProcessHandle.current().pid(), localHost)
    // ... even when the lease stamps the holder's true start time (the
    // recycled-pid refinement must not misread an honest live holder)
    val selfStart = ProcessHandle.current().info().startInstant()
    assume(selfStart.isPresent)
    rejectedWith(s"append:pid=${ProcessHandle.current().pid()}:live2",
      ProcessHandle.current().pid(), localHost,
      pidStart = Some(selfStart.get.toEpochMilli))
    // a dead STREAM holder is deliberate leakage: only the same stream's
    // replay may touch a half-committed append — never reaped
    val dead = killedPid()
    rejectedWith(s"stream:/ck/crashed", dead, localHost)
    // a FOREIGN pid domain proves nothing about liveness, even on a
    // matching hostname: two containers with colliding default hostnames
    // over a shared store (ADVICE r18) — its dead-to-us pid may be a
    // LIVE writer behind the other namespace
    rejectedWith(s"compact:pid=$dead:foreign", dead, localHost,
      domain = "deadbeef-boot/pid:[4026530000]")
    // a pre-r19 lease without a domain stamp (host-only, or bare pid) is
    // never reaped — hostname equality is not a liveness proof
    Files.writeString(leaseFile(store),
      s"delete:pid=$dead:old\nepoch=test ts=now pid=$dead host=$localHost")
    intercept[IllegalStateException](
      VectorIndex.appendStore(spark, store, vecBatch(6200000L), gen = 9L))
    VectorIndex.breakWriterLease(spark, store)
  }

  test("auto-reap treats a recycled pid (same number, new start time) as dead") {
    val store = Files.createTempDirectory("lease_recycle").toString
    VectorIndex.writeStore(spark, sfDir, store)
    // the lease claims THIS live JVM's pid but a start time from another
    // era: the number was recycled, the minting process is gone
    plantLease(store, s"append:pid=${ProcessHandle.current().pid()}:stale",
      ProcessHandle.current().pid(), localHost,
      pidStart = Some(12345L))
    VectorIndex.appendStore(spark, store, vecBatch(6400000L), gen = 1L)
    assert(VectorIndex.genExists(spark, store, 1L))
    assert(!Files.exists(leaseFile(store)))
  }

  test("a stream start rejected by a held lease records NO base-gen marker") {
    // the ADVICE r17 medium ordering bug: base resolved (and durably
    // recorded) BEFORE the lease meant a start rejected by an in-flight
    // batch append left a marker whose base that append then consumed —
    // the retried stream's batch 0 was silently dropped by the replay
    // receipt. Lease-first: a rejected start must leave no marker.
    val store = Files.createTempDirectory("lease_order_store").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val dir = Files.createTempDirectory("lease_order_src").toString
    vecBatch(6300000L).write.mode("overwrite").json(dir)
    val ckpt = Files.createTempDirectory("lease_order_ck").toString
    // a live batch writer holds the lease (this JVM's pid: not reapable)
    val holder = s"append:pid=${ProcessHandle.current().pid()}:inflight"
    assert(VectorIndex.acquireWriterLease(spark, store, holder).isDefined)
    intercept[IllegalStateException](
      StoreStream.ingest(spark, dir, store, ckpt))
    assert(!Files.exists(Paths.get(s"$ckpt/graft_base_gen")),
      "a lease-rejected stream start durably recorded a base gen")
    VectorIndex.releaseWriterLease(spark, store, holder)
    // the batch append commits the gen the rejected start would have
    // recorded as base; the retried stream must still ingest batch 0
    val consumed = VectorIndex.nextGen(spark, store)
    VectorIndex.appendStore(spark, store, vecBatch(6400000L), gen = consumed)
    val q = StoreStream.ingest(spark, dir, store, ckpt)
    try q.processAllAvailable() finally q.stop()
    q.awaitTermination()
    assert(VectorIndex.genExists(spark, store, consumed + 1),
      "retried stream's batch 0 was dropped by a poisoned base gen")
  }

  test("a failed first start deletes the marker it created; a restart's failure keeps the existing one") {
    val store = Files.createTempDirectory("lease_marker_store").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val ckpt = Files.createTempDirectory("lease_marker_ck").toString
    val marker = Paths.get(s"$ckpt/graft_base_gen")
    // first start: build fails AFTER the marker commit → cleaned up
    intercept[RuntimeException](
      StoreStream.startLeasedIngest(spark, store, ckpt.toString,
        StoreStream.AutoGen) { _ => throw new RuntimeException("boom") })
    assert(!Files.exists(marker),
      "failed first start left its freshly-created marker behind")
    assert(!Files.exists(leaseFile(store)),
      "failed start left the writer lease behind")
    // a real first start records the marker; a LATER failed start (the
    // restart shape) must not delete a marker it did not create — batches
    // may have committed under it
    val dir = Files.createTempDirectory("lease_marker_src").toString
    vecBatch(6500000L).write.mode("overwrite").json(dir)
    val q = StoreStream.ingest(spark, dir, store, ckpt.toString)
    try q.processAllAvailable() finally q.stop()
    q.awaitTermination()
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (Files.exists(leaseFile(store)) && System.nanoTime() < deadline)
      Thread.sleep(100)
    val recorded = Files.readString(marker).trim
    intercept[RuntimeException](
      StoreStream.startLeasedIngest(spark, store, ckpt.toString,
        StoreStream.AutoGen) { _ => throw new RuntimeException("boom") })
    assert(Files.exists(marker) && Files.readString(marker).trim == recorded,
      "failed restart deleted (or rewrote) a marker with committed batches")
  }

  test("a concurrent start mid-flight is rejected by the slot reservation") {
    // the ADVICE r17 check-then-act race, made deterministic: the second
    // start arrives while the first is still BUILDING (reservation
    // placed, query not yet registered). It must be rejected without
    // touching the first start's lease or marker.
    val store = Files.createTempDirectory("lease_race_store").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val dir = Files.createTempDirectory("lease_race_src").toString
    vecBatch(6600000L).write.mode("overwrite").json(dir)
    val ckpt = Files.createTempDirectory("lease_race_ck").toString
    var innerRejected = false
    val q = StoreStream.startLeasedIngest(spark, store, ckpt, StoreStream.AutoGen) { base =>
      innerRejected =
        try {
          StoreStream.startLeasedIngest(spark, store, ckpt,
            StoreStream.AutoGen) { _ => fail("loser start must not build") }
          false
        } catch { case _: IllegalStateException => true }
      assert(Files.exists(leaseFile(store)),
        "rejected concurrent start tore down the winner's lease mid-build")
      spark.readStream.schema(StoreStream.vecSchema).json(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          StoreStream.ingestVecBatch(b.sparkSession, store, b, base + id,
            StoreStream.streamOwner(ckpt))
        }
        .start()
    }
    try {
      assert(innerRejected, "concurrent mid-build start was not rejected")
      q.processAllAvailable()
    } finally q.stop()
    q.awaitTermination()
  }

  test("breakWriterLease un-bricks a store whose holder crashed") {
    val store = Files.createTempDirectory("lease_break").toString
    VectorIndex.writeStore(spark, sfDir, store)
    VectorIndex.acquireWriterLease(spark, store, "stream:/ckpt/crashed")
    intercept[IllegalStateException](
      VectorIndex.appendStore(spark, store, vecBatch(5400000L), gen = 1L))
    VectorIndex.breakWriterLease(spark, store)
    VectorIndex.appendStore(spark, store, vecBatch(5400000L), gen = 1L)
    assert(VectorIndex.genExists(spark, store, 1L))
  }

  test("a running ingest stream holds the lease; termination releases it") {
    val store = Files.createTempDirectory("lease_stream_store").toString
    VectorIndex.writeStore(spark, sfDir, store)
    val dir = Files.createTempDirectory("lease_stream_src").toString
    vecBatch(5500000L).write.mode("overwrite").json(dir)
    val ckpt = Files.createTempDirectory("lease_stream_ck").toString
    val q = StoreStream.ingest(spark, dir, store, ckpt)
    try {
      q.processAllAvailable()
      assert(Files.exists(leaseFile(store)),
        "running stream does not hold the writer lease")
      // the enforcement the lease exists for: a concurrent batch writer
      // against the ingesting store fails fast
      val e = intercept[IllegalStateException](
        VectorIndex.appendStore(spark, store, vecBatch(5600000L), gen = 99L))
      assert(e.getMessage.contains(StoreStream.streamOwner(ckpt)))
    } finally q.stop()
    q.awaitTermination()
    // release rides the async listener bus — poll briefly
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (Files.exists(leaseFile(store)) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(!Files.exists(leaseFile(store)),
      "stream termination did not release the writer lease")
    VectorIndex.appendStore(spark, store, vecBatch(5600000L), gen = 99L)
    assert(VectorIndex.genExists(spark, store, 99L))
  }
}

package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.operators.VectorIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A probe or id lookup of a multi-generation store resolves the append
  * delta through the driver-held overlay. Every overlay read must equal
  * the generation fold of the same call, read as a snapshot at
  * `Long.MaxValue`, on every layout and in every delta state: sticky
  * updates and new ids, tombstones (also as an id's newest generation),
  * several generations, a delta file that arrives from outside the
  * session, the leftover delta of a compaction that crashed before
  * deleting it, and a gen-0 delta row (which takes the fold). */
class OverlayParitySpec extends SparkSpec {

  // a private corpus copy: its session store is mutated here and must
  // not be the one other specs read through `ensureStore`
  private lazy val dir: String = {
    val d = Files.createTempDirectory("overlay_sf")
    Files.list(Paths.get(sfDir)).forEach(f =>
      Files.copy(f, d.resolve(f.getFileName)))
    d.toString
  }

  private lazy val emb: Map[Long, Array[Float]] =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private def batch(rows: Seq[(Long, Array[Float], String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v, lang) => (id, 7, v.toSeq, s"""{"lang":"$lang"}""") }
      .toDF("vec_id", "label", "embedding", "metadata")
  }

  private def partOf(path: String, layout: VectorIndex.StoreLayout): Map[Long, Int] = {
    val pc = if (layout == VectorIndex.IvfLayout) "centroid_id" else "bucket"
    spark.read.parquet(s"$path/vectors").select(col("vec_id"), col(pc))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** Ids the lookups read, over the states [[run]] builds: updated (7,
    * 13), new (900001–900004), tombstoned (11, 900002, then 900001 and 13)
    * and untouched (0, 3, 42). */
  private val lookupIds =
    Seq(0L, 3L, 7L, 11L, 13L, 42L, 900001L, 900002L, 900003L, 900004L)

  /** Every overlay-path read of the store, for the query vectors `qs`:
    * through the overlay, or (`fold`) through the generation fold. */
  private def reads(
      layout: VectorIndex.StoreLayout, qs: Seq[Array[Float]],
      fold: Boolean): Seq[(String, Seq[Seq[Any]])] = {
    val path = VectorIndex.ensureStore(spark, dir, layout)
    val ivf = layout == VectorIndex.IvfLayout
    val asOf = if (fold) Some(Long.MaxValue) else None
    def rows(df: => DataFrame): Seq[Seq[Any]] =
      (if (fold) VectorIndex.readAsOf(Long.MaxValue)(df) else df)
        .collect().map(_.toSeq).toSeq
    val probes = if (ivf) Seq(1, 4, VectorIndex.K) else Seq(4, VectorIndex.LshProbes, 256)
    qs.zipWithIndex.flatMap { case (q, i) =>
      probes.map(np => s"q$i top-k nprobe $np" -> VectorIndex.searchStore(
          spark, path, q, k = 10, nprobe = np, asOfGen = asOf)
        .collect().map(_.toSeq).toSeq) ++
      Seq(
        s"q$i threshold" -> VectorIndex.searchStore(spark, path, q,
            nprobe = probes(1), scoreThreshold = Some(0.2), asOfGen = asOf)
          .collect().map(_.toSeq).toSeq,
        s"q$i metadata filter" -> VectorIndex.searchStore(spark, path, q,
            k = 10, nprobe = probes(1), asOfGen = asOf,
            filter = Some(get_json_object(col("metadata"), "$.lang") === "en"))
          .collect().map(_.toSeq).toSeq,
        s"q$i mmr" -> rows(VectorIndex.mmrSearchStore(spark, path, q, k = 5,
          fetchK = 20, nprobe = probes(1)))) ++
      (if (ivf) Seq(s"q$i pq" -> rows(VectorIndex.ivfPqSearchStoreAt(
          spark, path, q, k = 10, nprobe = 4, fetchK = 30)))
       else Nil)
    } ++ Seq(
      // getByIds carries no ordering contract
      "get by ids" -> rows(VectorIndex.getByIds(spark, path, lookupIds))
        .sortBy(_.head.asInstanceOf[Long]),
      "batch" -> rows(VectorIndex.corpusBatchSearch(spark, dir, layout,
        nQueries = 4, k = 5, nprobe = probes(1)))) ++
      (if (ivf) Seq("batch pq" -> rows(VectorIndex.batchIvfPqSearchStoreAt(
          spark, path, qs.indices.map(_.toLong).zip(qs), k = 5, nprobe = 4,
          fetchK = 30, excludeBelow = None)))
       else Nil)
  }

  private def assertParity(
      layout: VectorIndex.StoreLayout, qs: Seq[Array[Float]], state: String): Unit = {
    val overlay = reads(layout, qs, fold = false)
    val folded = reads(layout, qs, fold = true)
    overlay.zip(folded).foreach { case ((name, o), (_, f)) =>
      assert(o == f, s"$state, $name: overlay $o != fold $f")
    }
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      Files.copy(f, to.resolve(from.relativize(f).toString),
        StandardCopyOption.REPLACE_EXISTING)
    }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  private def run(layout: VectorIndex.StoreLayout): Unit = {
    val path = VectorIndex.ensureStore(spark, dir, layout)
    val part = partOf(path, layout)
    // an update moves an id's content to a vector of another partition;
    // appendStore keeps it sticky in its old one
    def movedFrom(id: Long): Long =
      (200L until 1000L).find(s => part.contains(s) && part(s) != part(id)).get
    val (u1, u2) = (7L, 13L)
    val (s1, s2) = (movedFrom(u1), movedFrom(u2))
    // queries aimed at the new contents and at the superseded ones
    val qs = Seq(emb(0L), emb(s1), emb(s2), emb(u1), emb(11L))
    val (nprobe, all) =
      if (layout == VectorIndex.IvfLayout) (4, VectorIndex.K)
      else (VectorIndex.LshProbes, 256)
    def search(q: Array[Float], np: Int = nprobe) =
      VectorIndex.searchStore(spark, path, q, k = 10, nprobe = np)

    // sticky updates and new ids
    VectorIndex.appendStore(spark, path, batch(Seq(
      (u1, emb(s1), "en"), (u2, emb(s2), "de"),
      (900001L, emb(1L).map(_ * 2f), "en"), (900002L, emb(2L), "fr"))), gen = 1L)
    assertParity(layout, qs, "sticky updates and new ids")
    assert(ids(search(emb(s1), all)).contains(u1))
    // a warm probe of the multi-generation store: one job, no shuffle
    val warm = search(qs(1))
    assert(jobsOf(warm.collect(): Unit) == 1)
    val plan = warm.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"overlay probe shuffles:\n$plan")
    // and a warm id lookup: one job, no shuffle
    val lookup = VectorIndex.getByIds(spark, path, lookupIds)
    assert(jobsOf(lookup.collect(): Unit) == 1)
    val lookupPlan = lookup.queryExecution.executedPlan.toString
    assert(!lookupPlan.contains("Exchange"), s"overlay id lookup shuffles:\n$lookupPlan")

    // tombstones
    VectorIndex.deleteFromStore(spark, path, Seq(11L, 900002L), gen = 2L)
    assertParity(layout, qs, "tombstones")

    // several generations, a tombstone as an id's newest one
    VectorIndex.appendStore(spark, path, batch(Seq(
      (u2, emb(s1), "en"), (900003L, emb(3L), "en"))), gen = 3L)
    VectorIndex.deleteFromStore(spark, path, Seq(900001L, u2), gen = 4L)
    assertParity(layout, qs, "several generations")
    assert(!ids(search(emb(s1), all)).contains(u2))
    // the overlay entry is replaced as the delta grows, never added to
    val overlays = SessionState.entries.filter(e =>
      e.family == "deltaoverlay" && e.scope == s"$path/vectors_delta")
    assert(overlays.size == 1, overlays)

    // a delta file from another writer, seen with no invalidation
    val other = Files.createTempDirectory("overlay_other").toString
    VectorIndex.writeStore(spark, dir, other, layout = layout)
    VectorIndex.appendStore(spark, other, batch(Seq(
      (900004L, emb(4L), "en"))), gen = 5L)
    copyDelta(other, path)
    assert(ids(search(emb(4L))).contains(900004L))
    assertParity(layout, qs :+ emb(4L), "a copied-in delta file")

    // a compaction that crashed before its delta delete: the compacted
    // base holds u1 in the partition of its new content, the leftover
    // delta holds its old sticky copy
    val saved = Files.createTempDirectory("overlay_saved")
    copyTree(Paths.get(s"$path/vectors_delta"), saved)
    VectorIndex.compactStore(spark, path)
    assert(partOf(path, layout)(u1) != part(u1), "u1's base copy must move")
    copyTree(saved, Paths.get(s"$path/vectors_delta"))
    assertParity(layout, qs :+ emb(4L), "a leftover delta after a crashed compaction")

    // a gen-0 tombstone ties with its base copy: the fold keeps the live
    // row, so the probe must take the fold
    val t = ids(search(qs(0))).find(i => i < 200L && !Set(u1, u2, 11L)(i)).get
    VectorIndex.deleteFromStore(spark, path, Seq(t), gen = 0L)
    val gen0 = search(qs(0))
    assert(ids(gen0).contains(t))
    assert(gen0.queryExecution.executedPlan.toString.contains("Exchange"),
      "a gen-0 delta row must take the generation fold")
    assertParity(layout, qs, "a gen-0 delta row")
  }

  /** Copy the delta files of the store at `from` into the store at `to`. */
  private def copyDelta(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(s"$to/vectors_delta"))
    Files.list(Paths.get(s"$from/vectors_delta"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(f => Files.copy(f,
        Paths.get(s"$to/vectors_delta/copied-${f.getFileName}")))
  }

  test("a delta copied into a fresh store resolves in id lookups") {
    // the fresh store never appended: only its delta listing says it now
    // holds a newer version of id 5 and a tombstone of id 9
    val path = Files.createTempDirectory("overlay_fresh").toString
    VectorIndex.writeStore(spark, dir, path)
    val other = Files.createTempDirectory("overlay_fresh_src").toString
    VectorIndex.writeStore(spark, dir, other)
    VectorIndex.appendStore(spark, other, batch(Seq((5L, emb(6L), "de"))), gen = 1L)
    VectorIndex.deleteFromStore(spark, other, Seq(9L), gen = 2L)
    copyDelta(other, path)
    def lookup(df: => DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq
    val got = lookup(VectorIndex.getByIds(spark, path, Seq(5L, 6L, 9L)))
    assert(got.map(_._1) == Seq(5L, 6L), s"one version per live id: $got")
    assert(got.head._2 == """{"lang":"de"}""", s"id 5 must be its newest version: $got")
    assert(got == lookup(VectorIndex.readAsOf(Long.MaxValue)(
      VectorIndex.getByIds(spark, path, Seq(5L, 6L, 9L)))))
  }

  test("overlay reads equal the generation fold on an IVF-PQ store") {
    run(VectorIndex.IvfLayout)
  }

  test("overlay reads equal the generation fold on an LSH store") {
    run(VectorIndex.LshLayout)
  }
}

package graft

import graft.functions.Mersenne61
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

class TextDedupSpec extends SparkSpec {

  test("poly fingerprint matches a BigInt reference fold") {
    val s = "spark vector engine"
    val p = BigInt(Mersenne61.P)
    val expected = s.map(_.toInt).foldLeft(BigInt(0))((h, c) =>
      (h * Mersenne61.B + c) % p)
    assert(BigInt(Mersenne61.polyHash(UTF8String.fromString(s))) == expected)
  }

  test("mersenne mulmod matches BigInt for large operands") {
    val cases = Seq(
      (Mersenne61.P - 1, Mersenne61.P - 1),
      (123456789012345678L, 987654321098765431L % Mersenne61.P),
      (0L, 5L), (1L, Mersenne61.P - 1))
    cases.foreach { case (a, b) =>
      val exp = (BigInt(a) * BigInt(b)) % BigInt(Mersenne61.P)
      assert(BigInt(Mersenne61.mulmod(a, b)) == exp, s"mulmod($a, $b)")
    }
  }

  test("poly_combine matches a BigInt reference fold over every window") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val p = BigInt(Mersenne61.P)
    // deterministic pseudo-random 61-bit inputs
    val hs = Array.iterate(12345L, 40)(x => (x * 6364136223846793005L + 1442695040888963407L) >>> 3)
      .map(_ % Mersenne61.P)
    val n = 5
    val got = graft.functions.PolyCombine.combine(new GenericArrayData(hs), n)
    assert(got.numElements() == hs.length - n + 1)
    (0 until got.numElements()).foreach { i =>
      val expected = hs.slice(i, i + n).foldLeft(BigInt(0))((acc, h) =>
        (acc * Mersenne61.B + h) % p)
      assert(BigInt(got.getLong(i)) == expected, s"window $i")
    }
  }

  test("sig_agreement matches a naive equal-position count") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = Array.iterate(5L, 128)(x => x * 6364136223846793005L + 11L)
    val b = a.zipWithIndex.map { case (v, i) => if (i % 3 == 0) v else v + 1 }
    val got = graft.functions.MinHash.agreement(
      new GenericArrayData(a), new GenericArrayData(b))
    assert(got == a.indices.count(i => a(i) == b(i)))
    assert(got == (0 until 128).count(_ % 3 == 0))
  }

  test("hashing featurize matches a naive per-slot reference") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dim = 64
    val hs = Array.iterate(999L, 300)(x => (x * 2862933555777941757L + 3037000493L) >>> 2)
      .map(_ % Mersenne61.P)
    val got = graft.functions.TextOps.hashingFeaturize(new GenericArrayData(hs), dim)
    val w = new Array[Long](dim)
    val n = new Array[Long](dim)
    hs.foreach { h =>
      val d = (h % dim).toInt
      if (((h / dim) % 2) == 0) w(d) += 1 else w(d) -= 1
      n(d) += 1
    }
    assert(got.numElements() == dim)
    (0 until dim).foreach { i =>
      val row = got.getStruct(i, 2)
      assert(row.getLong(0) == w(i) && row.getLong(1) == n(i), s"slot $i")
    }
  }

  test("langid covers every document with a deterministic prediction") {
    val rows = TextAnalysis.langid(spark, sfDir).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getString(6) != null))
  }

  test("minhash-lsh candidates are a superset of high-jaccard truth pairs") {
    val truth = Dedup.ngramJaccard(spark, sfDir, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(truth.subsetOf(cand),
      s"missed: ${truth.diff(cand)}")
  }

  test("blocked embedding near-dup matches the naive all-pairs result, no BNLJ") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val naive = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.VectorFunctions.cosineSim(col("emb_a"), col("emb_b")), 4).as("cos_sim"))
      .where(col("cos_sim") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blockedDf = Dedup.embeddingNearDup(spark, sfDir)
    val blocked = blockedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(blocked == naive, s"diff: ${blocked.diff(naive)} / ${naive.diff(blocked)}")
    val plan = blockedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "exact near-dup must use an equi-join plan")
  }

  test("sign-LSH embedding near-dup returns a subset of the exact pairs, all verified") {
    val exact = Dedup.embeddingNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val approx = Dedup.embeddingNearDupLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(approx.nonEmpty, "LSH candidates should surface at least some qualifying pairs")
    assert(approx.subsetOf(exact), s"unverified pairs: ${approx.diff(exact)}")
  }

  test("materialized tables honor spark.graft.scratchDir") {
    import spark.implicits._
    // on a cluster the session-temp tables must land on a SHARED
    // filesystem (executors read each other's writes) — pin that the
    // scratch-root conf is honored when set
    val scratch = java.nio.file.Files.createTempDirectory("graft_scratch_")
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch_corpus_")
    (0L until 20L)
      .map(i => (i, s"alpha beta gamma delta epsilon zeta eta token$i end"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    spark.conf.set("spark.graft.scratchDir", scratch.toString)
    try {
      Dedup.minhashSigs(spark, dir.toString).count()
      val entries = new java.io.File(scratch.toString).list()
      assert(entries != null && entries.exists(_.startsWith("graft_sigtable_")),
        s"sig table not under the scratch root: ${Option(entries).map(_.toSeq)}")
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("exact dedup keeps every distinct normalized text once") {
    val kept = Dedup.exact(spark, sfDir).collect()
    assert(kept.map(_.getString(1)).distinct.length == kept.length)
    assert(kept.map(_.getLong(2)).sum == 500L)
  }

  test("simhash sub-bucketing is exact on a degenerate constant-block corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a self-similar corpus: every doc shares a long common prefix, so the
    // vote bias makes (at least) one 16-bit fingerprint block constant and
    // all 60 docs land in a single (band, block) bucket — the case where
    // the old collect_list row held the whole corpus
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val docs = (0L until 60L).map(i => (i, s"$base marker$i"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_degen_")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // maxBucket far below the bucket size forces s > 1 sub-buckets…
    val capped = Dedup.simhash(spark, dir.toString, maxBucket = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // …and must produce the identical pair set to the single-bucket run
    val uncapped = Dedup.simhash(spark, dir.toString, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(uncapped.nonEmpty, "the degenerate corpus should have near-dup pairs")
    assert(capped == uncapped,
      s"sub-bucketing changed the result: ${capped.diff(uncapped)} / ${uncapped.diff(capped)}")

    // and the bucket really was degenerate: some (band, block) holds all docs
    val fps = Tables.documents(spark, dir.toString)
      .withColumn("toks", split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
      .select(graft.functions.HashFunctions.simhash64(col("toks")).as("fp"))
    val maxBucketSize = fps
      .select(posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(fp, b * 16) & 65535L)"))
        .as(Seq("band", "block")))
      .groupBy(col("band"), col("block")).count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucketSize == 60L, s"expected a constant block, max df = $maxBucketSize")
  }

  test("cluster assignment equals a reference union-find over the same pair graph") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference union-find on the driver (test-only oracle)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.foreach { case (a, b) => union(a, b) }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      .map(d => (d, find(d)))
    val got = Dedup.clusterAssign(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == expected.toSeq,
      s"cluster mismatch:\n got $got\n exp ${expected.toSeq}")
    // transitivity actually exercised: some cluster must have > 2 members
    // (an A-B-C chain where keeping min-per-pair would under-merge)
    val sizes = got.groupBy(_._2).map(_._2.size)
    assert(sizes.max >= 2)
  }

  test("keep-best keeps exactly the top-quality member per cluster") {
    val rows = Dedup.keepBest(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "every document gets a verdict")
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4 == 1) == 1, s"cluster $cid keeps exactly one")
      val keeper = members.find(_._4 == 1).get
      val best = members.minBy(m => (-m._3, m._1)) // max quality, tie min id
      assert(keeper._1 == best._1,
        s"cluster $cid kept ${keeper._1}, best is ${best._1}")
    }
    // singletons (docs outside the pair graph) are their own keeper
    val graph = Dedup.clusterAssign(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    rows.filterNot(r => graph(r._1)).foreach { r =>
      assert(r._2 == r._1 && r._4 == 1, s"singleton ${r._1} must self-keep")
    }
    // and the near-dup clusters actually drop something
    assert(rows.count(_._4 == 0) > 0, "duplicate-heavy corpus must drop docs")
  }

  test("decontamination equals a brute-force string 8-gram overlap") {
    val got = Dedup.decontaminate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side reference on string grams (the Spark side uses hash folds)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").toSeq)
    def grams(toks: Seq[String]): Set[Seq[String]] =
      if (toks.length < 8) Set.empty else toks.sliding(8).map(_.toSeq).toSet
    val evalGrams = docs.filter(_._1 % 7 == 0).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 % 7 != 0).flatMap { case (id, toks) =>
      val hits = grams(toks).count(evalGrams.contains)
      if (hits > 0) Some(id -> hits.toLong) else None
    }.toMap
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.nonEmpty, "the gate is vacuous if nothing is contaminated")
  }

  test("decontamination broadcasts the eval grams — corpus side stays put") {
    val plan = Dedup.decontaminate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval-gram join must broadcast:\n$plan")
  }

  test("keep-best never shuffles the corpus on cluster_id") {
    val plan = Dedup.keepBest(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the verdict join-back must broadcast; the only windows allowed are
    // over the (small) pair-graph branch
    assert(plan.contains("BroadcastHashJoin"),
      s"verdict join-back should broadcast:\n$plan")
  }

  test("knn graph equals brute-force top-3 over the banded candidates") {
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sig(v: Array[Float], band: Int): Int =
      (0 until 8).map(i => if (v(band * 8 + i) > 0) 1 << i else 0).sum
    val candidates = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until 8).foreach { band =>
      vecs.keys.toSeq.groupBy(id => sig(vecs(id), band)).values.foreach { ids =>
        val sorted = ids.sorted
        for (x <- sorted.indices; y <- x + 1 until sorted.length)
          candidates += ((sorted(x), sorted(y)))
      }
    }
    def cos4(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      x.indices.foreach { i =>
        val xi = x(i).toDouble; val yi = y(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
      }
      // Spark's round(_, 4): BigDecimal.valueOf (shortest decimal
      // representation), HALF_UP — NOT the exact binary expansion
      java.math.BigDecimal.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    }
    val expected = candidates.toSeq.flatMap { case (a, b) =>
      val s = cos4(a, b); Seq((a, b, s), (b, a, s))
    }.groupBy(_._1).flatMap { case (src, es) =>
      es.sortBy { case (_, dst, s) => (-s, dst) }.take(3)
        .zipWithIndex.map { case ((_, dst, s), i) => (src, i + 1, dst, s) }
    }.toSet
    val got = Dedup.knnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected,
      s"only-got=${(got -- expected).toSeq.sortBy(_._1).take(5)} " +
        s"only-exp=${(expected -- got).toSeq.sortBy(_._1).take(5)}")
  }

  test("minhash pairs survive a capped lowest band and are emitted exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A 9-doc identical group (text T1) pushes ALL its band buckets over
    // maxDf=8, so every group pair's bucket is dead. A twin pair (two
    // copies of a one-token mutation of T1) matches the group's band hash
    // in SOME bands (those buckets are dead too: df = 11) and differs in
    // others (df = 2, alive). The mutation is CHOSEN — from the Spark-
    // computed band hashes themselves — so that band 0 collides with the
    // group: the twins' lowest matching band (band 0: twins are identical,
    // every band matches) is then dead, and the ownership emission must
    // fall through to the first ALIVE band. Expected output: exactly the
    // twin pair, exactly once — group pairs (all bands dead) and
    // group×twin pairs (their matching bands are exactly the collision
    // buckets, all dead) are unrecoverable by construction.
    val baseToks = (0 until 60).map(i => s"tok${i * 7 % 97}w$i")
    val t1 = baseToks.mkString(" ")
    def mutated(p: Int) = baseToks.updated(p, s"mut$p").mkString(" ")
    // candidate mutations, one doc each, plus T1 as doc 0 — one banding
    // run picks the position whose hash vector collides with T1's at band
    // 0 but differs somewhere later
    val candDir = java.nio.file.Files.createTempDirectory("graft_mh_cand_")
    ((0L, t1) +: (5 until 55).map(p => (p.toLong, mutated(p))))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$candDir/documents.parquet")
    val bhs = Dedup.bandHashes(Dedup.minhashSigs(spark, candDir.toString), 32, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val t1Bhs = bhs(0L)
    val pStar = (5 until 55).find { p =>
      val v = bhs(p.toLong)
      v(0) == t1Bhs(0) && v.indices.exists(j => v(j) != t1Bhs(j))
    }
    assert(pStar.nonEmpty,
      "no mutation collides with the group at band 0 — rechoose base text")
    val twinText = mutated(pStar.get)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_capped_")
    ((0L until 9L).map(i => (i, t1)) ++ Seq((100L, twinText), (101L, twinText)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.minhashLsh(spark, dir.toString, maxDf = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((100L, 101L)),
      s"expected exactly the twin pair once, got: ${rows.toSeq.sorted}")
    // sanity: uncapped, the 36 group pairs and the twin pair all surface,
    // each exactly once (duplicate-emission check BEFORE the toSet dedupe)
    val uncappedRows = Dedup.minhashLsh(spark, dir.toString, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(uncappedRows.length == uncappedRows.distinct.length,
      s"duplicate pair emission: ${uncappedRows.diff(uncappedRows.distinct)}")
    val uncapped = uncappedRows.toSet
    assert((0L until 9L).combinations(2).forall(c => uncapped((c(0), c(1)))),
      s"uncapped run must contain all group pairs, got ${uncapped.size}")
    assert(uncapped((100L, 101L)))
  }

  test("invalidateCorpus serves fresh results after an in-place corpus mutation") {
    import org.apache.spark.sql.functions.{lit, reverse}
    import graft.operators.{Analytics, CorpusOps, KnnSearch, TextStore, VectorIndex}
    // v1 is the sf0.001 corpus; v2 changes every table the cache
    // families read: half the documents plus a new column, reversed
    // embeddings, half the users' events
    def install(dir: String, v2: Boolean): Unit = {
      def raw(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
      val tables =
        if (!v2) Seq("documents" -> raw("documents"),
          "embeddings" -> raw("embeddings"), "events" -> raw("events"))
        else Seq(
          "documents" -> raw("documents").where(col("doc_id") % 2 === 0)
            .withColumn("extra", lit(1)),
          "embeddings" -> raw("embeddings")
            .withColumn("embedding", reverse(col("embedding"))),
          "events" -> raw("events").where(col("user_id") % 2 === 0))
      tables.foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
    val q = Array.tabulate(64)(i => ((i * 7) % 13 - 6).toFloat)
    val incoming = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 6)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    // one operator per cache family; each answer comes from its cached
    // state, so every family must keep serving v1 until invalidated
    def answers(dir: String): Map[String, Any] = Map(
      "signature+bucketed tables" ->
        Dedup.minhashLsh(spark, dir).collect().toSet,
      "ingest gate" -> Dedup.nearDupGate(incoming, spark, dir).collect().toSet,
      "bm25 stats" -> TextAnalysis.bm25(spark, dir).collect().toSeq,
      "bpe merges" -> CorpusOps.bpeTrain(spark, dir, 5).collect().toSeq,
      "query vector" -> KnnSearch.queryVector(spark, dir, 1L).toSeq,
      "query vectors" -> KnnSearch.queryVectors(spark, dir, 8)
        .map { case (id, v) => (id, v.toSeq) }.toSeq,
      "ivf centroids" ->
        VectorIndex.trainCentroids(spark, dir).map(_.toSeq).toSeq,
      "pq codebooks" -> VectorIndex.trainPqCodebooks(spark, dir)
        .map(_.map(_.toSeq).toSeq).toSeq,
      "ivf store path" -> VectorIndex.ensureStore(spark, dir),
      "ivf store" -> VectorIndex.searchStore(spark,
        VectorIndex.ensureStore(spark, dir), q, 10, 4).collect().toSeq,
      "chunk store path" -> TextStore.ensureChunkStore(spark, dir),
      "chunk store" -> TextStore.searchByText(spark,
        TextStore.ensureChunkStore(spark, dir), "spark vector merge", 10)
        .collect().toSeq,
      "user events" -> Analytics.eventsRetention(spark, dir).collect().toSeq,
      "schema" -> Tables.documents(spark, dir).columns.toSeq)
    def scoped(dir: String) = SessionState.entries.filter(e =>
      e.scope == dir || e.scope.startsWith(dir + "/"))

    val dir = java.nio.file.Files.createTempDirectory("graft_inval_").toString
    install(dir, v2 = false)
    val v1 = answers(dir)
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh_").toString
    install(fresh, v2 = true)
    val v2 = answers(fresh)
    v1.keys.foreach(f => assert(v1(f) != v2(f), s"$f: v2 does not change it"))

    install(dir, v2 = true)
    val stale = answers(dir)
    v1.keys.foreach(f =>
      assert(stale(f) == v1(f), s"$f: cache unexpectedly refreshed itself"))
    GraftSession.invalidateCorpus(dir)
    assert(scoped(dir).isEmpty, s"entries survived: ${scoped(dir)}")
    val after = answers(dir)
    v2.keys.filterNot(_.endsWith("path")).foreach(f =>
      assert(after(f) == v2(f), s"$f: stale after invalidation"))

    install(dir, v2 = false)
    GraftSession.invalidateCorpus(dir + "/")
    assert(scoped(dir).isEmpty, s"entries survived: ${scoped(dir)}")
    val back = answers(dir)
    v1.keys.filterNot(_.endsWith("path")).foreach(f =>
      assert(back(f) == v1(f), s"$f: stale after invalidating $dir/"))
  }

  test("gate corpus band table is narrow: (corpus_doc_id, band, band_hash, pre)") {
    // the r9 gate shipped the full 32-int band-hash vector on every
    // exploded corpus row (32× redundant payload on the static table every
    // micro-batch joins); this pins the r10 narrow layout — prefix only,
    // never `bhs`, never a signature — and the alive mask only under caps
    val bhs = Dedup.bandHashes(Dedup.minhashSigs(spark, sfDir), 32, 4)
    val uncapped = Dedup.corpusBandTable(bhs, Array.emptyLongArray, 1 << 20)
    assert(uncapped.columns.toSeq ==
      Seq("corpus_doc_id", "band", "band_hash", "pre"),
      s"band table widened: ${uncapped.columns.toSeq}")
    val capped = Dedup.corpusBandTable(bhs, Array(0L), 1 << 20)
    assert(capped.columns.toSeq ==
      Seq("corpus_doc_id", "band", "band_hash", "pre", "alive"),
      s"capped band table layout: ${capped.columns.toSeq}")
  }

  test("gate flags survive a capped lowest band, exactly once") {
    import spark.implicits._
    // same construction as the minhash capped test: a 9-doc identical
    // group (T1) kills its band buckets at maxDf=8; the corpus also holds
    // two twin docs (one-token mutation of T1) whose band 0 collides with
    // the group. An incoming COPY of the twin text matches the corpus
    // twins in all 32 bands, but its lowest matching band (0) is dead —
    // the gate must fall through to the first alive band and flag each
    // corpus twin exactly once at est 1.0. Incoming×group matches live
    // only in the dead collision buckets, so the capped gate cannot flag
    // the group — and must not flag anything twice.
    val baseToks = (0 until 60).map(i => s"tok${i * 7 % 97}w$i")
    val t1 = baseToks.mkString(" ")
    def mutated(p: Int) = baseToks.updated(p, s"mut$p").mkString(" ")
    val candDir = java.nio.file.Files.createTempDirectory("graft_gate_cand_")
    ((0L, t1) +: (5 until 55).map(p => (p.toLong, mutated(p))))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$candDir/documents.parquet")
    val bhs = Dedup.bandHashes(Dedup.minhashSigs(spark, candDir.toString), 32, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val t1Bhs = bhs(0L)
    val pStar = (5 until 55).find { p =>
      val v = bhs(p.toLong)
      v(0) == t1Bhs(0) && v.indices.exists(j => v(j) != t1Bhs(j))
    }
    assert(pStar.nonEmpty,
      "no mutation collides with the group at band 0 — rechoose base text")
    val twinText = mutated(pStar.get)
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_capped_")
    ((0L until 9L).map(i => (i, t1)) ++ Seq((100L, twinText), (101L, twinText)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val incoming = Seq((900000L, twinText)).toDF("doc_id", "text")
    val flags = Dedup.nearDupGate(incoming, spark, dir.toString, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(flags.length == flags.distinct.length,
      s"duplicate gate emission: ${flags.diff(flags.distinct)}")
    assert(flags.toSet == Set((900000L, 100L, 1.0), (900000L, 101L, 1.0)),
      s"capped gate flags: ${flags.sorted}")
    // uncapped: the same twin flags survive (band 0 owns them), still
    // exactly once; group matches may now surface too if they verify
    val unflags = Dedup.nearDupGate(
      incoming, spark, dir.toString, maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(unflags.length == unflags.distinct.length,
      s"duplicate uncapped gate emission: ${unflags.diff(unflags.distinct)}")
    assert(Set((900000L, 100L, 1.0), (900000L, 101L, 1.0)).subsetOf(unflags.toSet),
      s"uncapped gate flags: ${unflags.sorted}")
  }

  test("batch gate flags a dup-heavy incoming slice per copy (incoming collapse, r13)") {
    import spark.implicits._
    // the r13 batch-only incoming collapse signs each distinct incoming
    // text once and expands flags to member ids — this pins the contract:
    // incoming COPIES get identical rows differing only in their id, and
    // a novel incoming text stays unflagged. Corpus: one duplicated text.
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_dupin_")
    val t = (0 until 50).map(i => s"gamma$i delta$i").mkString(" ")
    Seq((0L, t), (1L, t))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val incoming = Seq(
      (900L, t), (901L, t), (902L, t),                 // three copies
      (950L, (0 until 50).map(i => s"nov$i elty$i").mkString(" "))) // novel
      .toDF("doc_id", "text")
    val flags = Dedup.nearDupGate(incoming, spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(flags == Set(900L, 901L, 902L).flatMap(id =>
      Set((id, 0L, 1.0), (id, 1L, 1.0))), s"pair-mode flags: $flags")
    val repr = Dedup.nearDupGateRepr(incoming, spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(repr == Set(900L, 901L, 902L).map(id => (id, 0L, 2L, 1.0)),
      s"repr-mode rows: $repr")
  }

  test("LSH pairs survive a capped lowest band and are emitted exactly once") {
    import spark.implicits._
    // 5 identical all-positive vectors: their sigs match in all 8 bands,
    // so band 0 is every pair's lowest matching band. 3 extras share ONLY
    // band 0's sig (first 8 dims positive) — they push band 0's bucket to
    // 8 members while bands 1-7 stay at 5. With maxBucket=6, band 0 is
    // dead: the 10 identical pairs must still surface through band 1
    // (the cross-band redundancy the banding promises), and the
    // lowest-surviving-band ownership must emit each exactly once.
    val dim = 64
    val identical = (0L until 5L).map { i =>
      (i, Array.fill(dim)(1.0f).toSeq)
    }
    val extras = (0 until 3).map { j =>
      val v = Array.fill(dim)(-1.0f)
      java.util.Arrays.fill(v, 0, 8, 1.0f) // share band 0's sig
      v(8 + j) = 1.0f // distinct band-1 sigs so extras stay un-paired
      (100L + j, v.toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_capped_")
    (identical ++ extras).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // threshold 0.99 scores out every extra pairing; only the identical
    // group (cos_sim = 1.0) remains
    val rows = Dedup.embeddingNearDupLsh(
      spark, dir.toString, threshold = 0.99, maxBucket = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 10,
      s"expected the 10 identical pairs exactly once each, got " +
        s"${rows.length}: ${rows.toSeq.sorted.take(15)}")
    assert(rows.toSet.size == 10, "duplicate pair emission")
    // sanity: band 0 really was over the cap (8 > 6)
    val uncapped = Dedup.embeddingNearDupLsh(
      spark, dir.toString, threshold = 0.99, maxBucket = 1000).collect()
    assert(uncapped.length == 10)
  }

  test("duplicateDocIds equals the distinct doc_b of the expanded pair set") {
    // the derivation a duplicate gate relies on (r10): expansion emits
    // doc_b = greatest(da, db) over member combos, and a unique's
    // representative IS its minimum member — so the greatest-side set is
    // computable per unique pair without the quadratic expansion. Pin
    // set equality on the graded corpus (near-dup structure from the
    // driver's duplicate texts) at the graded parameters.
    val viaExpansion = Dedup.ngramJaccard(spark, sfDir)
      .select(col("doc_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val derived = Dedup.duplicateDocIds(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(derived == viaExpansion,
      s"derived \\ expansion = ${(derived -- viaExpansion).toSeq.sorted.take(10)}; " +
        s"expansion \\ derived = ${(viaExpansion -- derived).toSeq.sorted.take(10)}")
    assert(viaExpansion.nonEmpty, "vacuous: the corpus has no near-dup pairs")
  }

  test("nearDupGateRepr collapses the pair mode exactly: flags, counts, rep, est") {
    // the scale-safe gate contract (r11): ONE row per flagged incoming
    // doc. Pin full parity with the member-pair mode on the graded
    // incoming slice — same flag set, count = the pair mode's per-doc row
    // count, est = per-doc max, rep = the min corpus member id among
    // max-est rows (= the best-matching group's representative, because a
    // representative IS its group's minimum member).
    val incoming = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val pairs = Dedup.nearDupGate(incoming, spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val repr = Dedup.nearDupGateRepr(incoming, spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(repr.nonEmpty, "vacuous: the slice flags nothing")
    assert(repr.map(_._1).distinct.length == repr.length,
      "repr mode emitted a doc twice")
    assert(repr.map(_._1).toSet == pairs.map(_._1).toSet,
      "repr flag set != pair-mode flag set")
    val byDoc = pairs.groupBy(_._1)
    repr.foreach { case (doc, rep, n, est) =>
      val p = byDoc(doc)
      assert(n == p.length.toLong, s"doc $doc: count $n != ${p.length} pair rows")
      val maxEst = p.map(_._3).max
      assert(est == maxEst, s"doc $doc: est $est != max $maxEst")
      val expectRep = p.filter(_._3 == maxEst).map(_._2).min
      assert(rep == expectRep, s"doc $doc: rep $rep != $expectRep")
    }
  }

  test("embeddingNearDupGateRepr collapses the pair mode exactly") {
    val incoming = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val pairs = Dedup.embeddingNearDupGate(incoming, spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val repr = Dedup.embeddingNearDupGateRepr(incoming, spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(repr.nonEmpty, "vacuous: the slice flags nothing")
    assert(repr.map(_._1).distinct.length == repr.length)
    assert(repr.map(_._1).toSet == pairs.map(_._1).toSet)
    val byVec = pairs.groupBy(_._1)
    repr.foreach { case (vec, rep, n, cos) =>
      val p = byVec(vec)
      assert(n == p.length.toLong, s"vec $vec: count $n != ${p.length}")
      val maxCos = p.map(_._3).max
      assert(cos == maxCos, s"vec $vec: cos $cos != max $maxCos")
      assert(rep == p.filter(_._3 == maxCos).map(_._2).min, s"vec $vec: rep $rep")
    }
  }

  test("simhashRepr reports exactly the pair volume the member expansion emits (r13)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_repr_")
    val base = (0 until 100).map(i => s"tok$i").mkString(" ")
    val variant = ("zzz" +: (1 until 100).map(i => s"tok$i")).mkString(" ")
    val novel = (0 until 100).map(i => s"other$i").mkString(" ")
    Seq((0L, base), (1L, base), (2L, base),
        (10L, variant), (11L, variant), (20L, novel))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.simhash(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val repr = Dedup.simhashRepr(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // rep = min doc_id per normalized text group
    val rep = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 20L -> 20L)
    val grouped = pairs.groupBy { case (a, b, _) =>
      (math.min(rep(a), rep(b)), math.max(rep(a), rep(b))) }
    // every repr row's volume is the count of expanded pairs in its group
    // pair, every group pair has a repr row, hamming agrees row for row
    assert(repr.map { case (a, b, _, n) => ((a, b), n) }.toMap ==
      grouped.map { case (k, v) => k -> v.length.toLong },
      s"repr volumes vs expanded counts: ${repr.toSeq} vs ${grouped.view.mapValues(_.length).toMap}")
    repr.foreach { case (a, b, h, _) =>
      assert(grouped((a, b)).forall(_._3 == h), s"hamming mismatch in ($a,$b)") }
    // teeth: the copy groups' self pairs carry C(w, 2)
    val reprMap = repr.map { case (a, b, h, n) => (a, b) -> ((h, n)) }.toMap
    assert(reprMap((0L, 0L)) == ((0, 3L)), s"base self pair: $reprMap")
    assert(reprMap((10L, 10L)) == ((0, 1L)), s"variant self pair: $reprMap")

    // the jaccard-family repr obeys the same volume contract on the same
    // corpus (shared reprPairs tail, independent candidate core)
    val mPairs = Dedup.minhashLsh(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mRepr = Dedup.minhashLshRepr(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val mGrouped = mPairs.groupBy { case (a, b, _) =>
      (math.min(rep(a), rep(b)), math.max(rep(a), rep(b))) }
    assert(mRepr.map { case (a, b, _, n) => ((a, b), n) }.toMap ==
      mGrouped.map { case (k, v) => k -> v.length.toLong },
      s"minhash repr volumes: ${mRepr.toSeq} vs ${mGrouped.view.mapValues(_.length).toMap}")
    mRepr.foreach { case (a, b, e, _) =>
      assert(mGrouped((a, b)).forall(_._3 == e), s"estimate mismatch in ($a,$b)") }
    assert(mRepr.map { case (a, b, _, _) => (a, b) }.toSet.contains((0L, 0L)),
      "base copy group must survive as a self pair")
  }

  test("embeddingNearDupLshRepr reports the expansion volume (r13)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_embrepr_")
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => math.sin(seed * 31.0 + i).toFloat)
    // three exact copies of vector a, two of b, one of c
    val rows = Seq(
      (0L, 0, vec(1)), (1L, 0, vec(1)), (2L, 0, vec(1)),
      (10L, 1, vec(2)), (11L, 1, vec(2)), (20L, 2, vec(3)))
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rep = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 20L -> 20L)
    val pairs = Dedup.embeddingNearDupLsh(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val repr = Dedup.embeddingNearDupLshRepr(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val grouped = pairs.groupBy { case (a, b, _) =>
      (math.min(rep(a), rep(b)), math.max(rep(a), rep(b))) }
    assert(repr.map { case (a, b, _, n) => ((a, b), n) }.toMap ==
      grouped.map { case (k, v) => k -> v.length.toLong },
      s"embedding repr volumes: ${repr.toSeq} vs ${grouped.view.mapValues(_.length).toMap}")
    repr.foreach { case (a, b, c, _) =>
      assert(grouped((a, b)).forall(_._3 == c), s"cosine mismatch in ($a,$b)") }
    val reprMap = repr.map { case (a, b, c, n) => (a, b) -> ((c, n)) }.toMap
    assert(reprMap((0L, 0L)) == ((1.0, 3L)), s"a's self pair: $reprMap")
    assert(reprMap((10L, 10L)) == ((1.0, 1L)), s"b's self pair: $reprMap")
  }
}

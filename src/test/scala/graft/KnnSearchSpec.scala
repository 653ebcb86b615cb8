package graft

import graft.operators.KnnSearch
import org.apache.spark.sql.functions._

class KnnSearchSpec extends SparkSpec {

  private def bruteForceTopK(k: Int): Seq[(Long, Double)] = {
    val q = KnnSearch.queryVector(spark, sfDir, 0L)
    Tables.embeddings(spark, sfDir).collect().toSeq
      .filter(_.getLong(0) != 0L)
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val dot = v.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
        val nv = math.sqrt(v.map(a => a.toDouble * a).sum)
        val nq = math.sqrt(q.map(a => a.toDouble * a).sum)
        (r.getLong(0), BigDecimal(dot / (nv * nq))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  test("knn cosine top-k matches driver-side brute force") {
    val got = KnnSearch.topK(spark, sfDir, KnnSearch.Cosine, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == bruteForceTopK(10))
  }

  test("filtered knn only returns matching labels") {
    val got = KnnSearch.topK(spark, sfDir, KnnSearch.Cosine, k = 5,
      filter = Some(col("label") === 3)).collect()
    assert(got.nonEmpty && got.forall(_.getInt(1) == 3))
  }

  test("threshold search returns all rows above threshold, sorted") {
    val got = KnnSearch.aboveThreshold(spark, sfDir, 0.2).collect()
    assert(got.forall(_.getDouble(1) >= 0.2))
    val scores = got.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("mmr re-rank: lambda=1 reduces to plain top-k; diversity changes the tail") {
    val plain = KnnSearch.topK(spark, sfDir, KnnSearch.Cosine, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val relevanceOnly = KnnSearch.mmrTopK(spark, sfDir, k = 10, lambdaMult = 1.0)
      .orderBy("mmr_rank").collect().map(_.getLong(0)).toSeq
    assert(relevanceOnly == plain)
    val mixed = KnnSearch.mmrTopK(spark, sfDir, k = 10, lambdaMult = 0.5)
      .orderBy("mmr_rank").collect().map(_.getLong(0)).toSeq
    assert(mixed.length == 10 && mixed.distinct.length == 10)
    // the first pick is always the most relevant candidate
    assert(mixed.head == plain.head)
    // every pick comes from the fetchK candidate pool
    val pool = KnnSearch.topK(spark, sfDir, KnnSearch.Cosine, k = 50)
      .collect().map(_.getLong(0)).toSet
    assert(mixed.forall(pool.contains))
  }

  test("int8-quantized search recovers the exact top-k after re-rank") {
    val exact = KnnSearch.topK(spark, sfDir, graft.operators.KnnSearch.Cosine, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val quant = graft.operators.VectorIndex.quantizedSearch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(quant == exact)
  }

  test("batch knn returns k rows per query") {
    val got = KnnSearch.batchTopK(spark, sfDir, nQueries = 3, k = 4).collect()
    val perQuery = got.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery == Map(0L -> 4, 1L -> 4, 2L -> 4))
  }

  test("queryVector on an absent id names the id and the corpus, and caches nothing") {
    val absent = Long.MaxValue
    val e = intercept[IllegalArgumentException](
      KnnSearch.queryVector(spark, sfDir, absent))
    assert(e.getMessage.contains(absent.toString) &&
      e.getMessage.contains(sfDir), e.getMessage)
    assert(!SessionState.get[(Long, Array[Float])](
        SessionState.key("queryvector", sfDir)).exists(_._1 == absent),
      "a failed query-vector lookup left a session entry")
  }

  test("50 distinct query ids leave one queryvector entry, holding the last id") {
    (100L until 150L).foreach { id =>
      val v = KnnSearch.queryVector(spark, sfDir, id)
      val want = Tables.embeddings(spark, sfDir).where(col("vec_id") === id)
        .select("embedding").head().getSeq[Float](0)
      assert(v.toSeq == want, s"query vector of id $id")
    }
    val held = SessionState.entries.filter(en =>
      en.family == "queryvector" && en.scope == sfDir)
    assert(held.length == 1, held.mkString(", "))
    assert(SessionState.get[(Long, Array[Float])](
      SessionState.key("queryvector", sfDir)).map(_._1) == Some(149L))
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{KnnSearch, RagContext, VectorIndex}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.util.QueryExecutionListener

/** A warm serving request compiles no code: its request values (query
  * ids, probed partition ids, thresholds, context doc ids) are bound
  * parameters, so a request with new values runs the classes the last
  * one compiled. Each site is called once warm, then with other values;
  * the second call must not move Spark's codegen compile counter. Then
  * a call with fixed values must push down and prune in its file scans
  * exactly as with inlined literals (the expected strings are the ones
  * `lit` values give). */
class ServingCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The codegen compiles `body` caused, and the partition and pushed
    * filters of every file scan of every query it executed, in order
    * (attribute ids dropped). */
  private def observe(body: => Unit): (Long, Seq[String]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // listener events arrive asynchronously: a fence query marks the
    // point after which every earlier execution has been reported
    def fence(n: Long): Unit = {
      spark.range(0, n).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = plans.asScala.exists(_.toString.contains(s"$n"))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen, "fence query was never reported")
    }
    spark.listenerManager.register(listener)
    try {
      fence(7907)
      plans.clear() // what earlier calls still had in flight
      val before = compiles
      body
      val n = compiles - before
      fence(7919)
      val scans = plans.asScala.toSeq.filterNot(_.toString.contains("7919"))
        .flatMap(p => collect(p) { case s: FileSourceScanExec => s })
      n -> scans.flatMap(s => Seq("PartitionFilters", "PushedFilters")
        .map(m => s"$m: ${s.metadata(m).replaceAll("#\\d+", "")}"))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Request values of the compile checks, a pair per case that no
    * other case uses: Spark's code cache lives as long as the JVM, so a
    * value an earlier case ran could find its classes already compiled,
    * whatever this case's call site does. */
  private val fresh = Iterator.from(20, 2)

  /** A test of `call`: warm, then with a value of its own, which must
    * compile nothing; then with `at`, whose scans must filter as
    * `expected`. */
  private def site(name: String, at: Long = 17)(expected: String*)(
      call: Long => Unit): Unit = {
    val warm = fresh.next().toLong
    test(name) {
      call(warm)
      val (n, _) = observe(call(warm + 1))
      assert(n == 0, s"a warm call with new request values compiled $n classes")
      val (_, filters) = observe(call(at))
      assert(filters == expected, filters.mkString("\n"))
    }
  }

  private def q(id: Long): Array[Float] = KnnSearch.queryVector(spark, sfDir, id)
  private def run(df: => DataFrame): Unit = { df.collect(); () }

  // the filters each scan of a request for id 17 runs with plain
  // literals: the query-vector fetch (the corpus's held vector is the
  // compile check's), the corpus scan without the query row, and a store
  // probe of the partitions nearest to vector 17
  private val fetch = Seq("PartitionFilters: []",
    "PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,17)]")
  private val notId = Seq("PartitionFilters: []",
    "PushedFilters: [IsNotNull(vec_id), Not(EqualTo(vec_id,17))]")
  private val probe = "PartitionFilters: [centroid_id IN (0,11,10,7)]"
  private val live = "PushedFilters: [IsNotNull(deleted), Not(EqualTo(deleted,true))]"
  private val liveNotId = "PushedFilters: [IsNotNull(deleted), IsNotNull(vec_id), " +
    "Not(EqualTo(deleted,true)), Not(EqualTo(vec_id,17))]"

  site("queryVector")(fetch: _*)(q)
  site("topK")(fetch ++ notId: _*)(id =>
    run(KnnSearch.topK(spark, sfDir, KnnSearch.Cosine, 10, id)))
  site("aboveThreshold")(fetch ++ notId: _*)(id =>
    run(KnnSearch.aboveThreshold(spark, sfDir, 0.2 + id / 1000.0, id)))
  site("topKNormalized")(fetch ++ notId: _*)(id =>
    run(KnnSearch.topKNormalized(spark, sfDir, 10, id)))
  site("topKJsonFiltered")(fetch ++ notId ++ Seq("PartitionFilters: []",
      "PushedFilters: [Not(EqualTo(doc_id,17)), IsNotNull(doc_id)]"): _*)(id =>
    run(KnnSearch.topKJsonFiltered(spark, sfDir, queryVecId = id)))
  site("mmrTopK")(fetch ++ notId: _*)(id =>
    run(KnnSearch.mmrTopK(spark, sfDir, 10, 30, 0.5, id)))
  site("documentText")("PartitionFilters: []",
      "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,17)]")(id =>
    Tables.documentText(spark, sfDir, id))
  // query text, text search without the query doc, context fetch
  site("RagContext.searchMetrics")(
      "PartitionFilters: []", "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,17)]",
      "PartitionFilters: []",
      "PushedFilters: [IsNotNull(doc_id), Not(EqualTo(doc_id,17)), IsNotNull(uid)]",
      "PartitionFilters: []", "PushedFilters: [IsNotNull(uid)]",
      "PartitionFilters: []", "PushedFilters: [In(doc_id, [154,393,431]), IsNotNull(doc_id)]")(
    id => run(RagContext.searchMetrics(spark, sfDir, 3, id)))

  private lazy val ivf = VectorIndex.ensureStore(spark, sfDir)
  private lazy val lsh = VectorIndex.ensureStore(spark, sfDir, VectorIndex.LshLayout)

  site("searchStore on an IVF store")(fetch ++ Seq(probe, live): _*)(id =>
    run(VectorIndex.searchStore(spark, ivf, q(id), 5, 4)))
  site("searchStore on an LSH store")(fetch ++ Seq(
      "PartitionFilters: [bucket_grp IN (10,14)]",
      "PushedFilters: [IsNotNull(deleted), In(bucket, [170,171,234,235]), " +
        "Not(EqualTo(deleted,true))]"): _*)(id =>
    run(VectorIndex.searchStore(spark, lsh, q(id), 5, 4)))
  site("searchStore with a score threshold")(fetch ++ Seq(probe, live): _*)(id =>
    run(VectorIndex.searchStore(spark, ivf, q(id), nprobe = 4,
      scoreThreshold = Some(0.2 + id / 1000.0))))
  site("corpusSearch")(fetch ++ Seq(probe, liveNotId): _*)(id =>
    run(VectorIndex.corpusSearch(spark, sfDir, queryVecId = id)))
  site("corpusThreshold")(fetch ++ Seq(probe, liveNotId): _*)(id =>
    run(VectorIndex.corpusThreshold(spark, sfDir, queryVecId = id)))
  site("corpusMmr")(fetch ++ Seq(probe, liveNotId): _*)(id =>
    run(VectorIndex.corpusMmr(spark, sfDir, queryVecId = id)))
  site("getByIds")("PartitionFilters: []",
      "PushedFilters: [IsNotNull(deleted), In(vec_id, [117,17,217]), " +
        "Not(EqualTo(deleted,true))]")(id =>
    run(VectorIndex.getByIds(spark, ivf, Seq(id, id + 100, id + 200))))
  site("storeHealth with query ids")(
      probe.dropRight(1) + ", isnotnull(centroid_id)]", live,
      probe, "PushedFilters: [IsNotNull(deleted), Not(EqualTo(deleted,true)), IsNotNull(vec_id)]",
      probe.dropRight(1) + ", isnotnull(centroid_id)]", live)(id =>
    run(VectorIndex.storeHealth(spark, ivf, Seq(id))))
  site("ivfSearch")(fetch ++ notId: _*)(id =>
    run(VectorIndex.ivfSearch(spark, sfDir, queryVecId = id)))
  // 9 probed buckets: an Int IN list over 10 values becomes an inlined
  // InSet switch
  site("lshSearch")(fetch ++ notId: _*)(id =>
    run(VectorIndex.lshSearch(spark, sfDir, queryVecId = id, probeHamming = 1)))
  site("quantizedSearch")(fetch ++ notId: _*)(id =>
    run(VectorIndex.quantizedSearch(spark, sfDir, queryVecId = id)))
  site("pqSearch")(fetch ++ Seq("PartitionFilters: []",
      "PushedFilters: [Not(EqualTo(vec_id,17)), IsNotNull(vec_id)]") ++ notId: _*)(id =>
    run(VectorIndex.pqSearch(spark, sfDir, queryVecId = id)))
  site("ivfPqSearchStore")(fetch ++ Seq(probe, liveNotId, probe, liveNotId): _*)(id =>
    run(VectorIndex.ivfPqSearchStore(spark, sfDir, queryVecId = id)))

  /** An IVF store with an append delta updating the lowest id of every
    * partition, and those ids: every probe skips one id per partition. */
  private lazy val (appended, updated) = {
    val path = Files.createTempDirectory("codegen_overlay").toString
    VectorIndex.writeStore(spark, sfDir, path)
    val ids = spark.read.parquet(s"$path/vectors").groupBy(col("centroid_id"))
      .agg(min(col("vec_id"))).collect().map(_.getLong(1)).sorted.toSeq
    VectorIndex.appendStore(spark, path,
      Tables.embeddings(spark, sfDir).where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("label"), col("embedding")), gen = 1L)
    path -> ids
  }

  site("searchStore on an appended store")(fetch ++ Seq(probe,
      "PushedFilters: [IsNotNull(deleted), Not(EqualTo(deleted,true)), " +
        "Not(In(vec_id, [0,10,11,7]))]"): _*)(id =>
    run(VectorIndex.searchStore(spark, appended, q(id), 5, 4)))
  site("getByIds on an appended store", at = 1)("PartitionFilters: []",
      "PushedFilters: [IsNotNull(deleted), IsNotNull(vec_id), In(vec_id, [1,901,902]), " +
        "Not(EqualTo(deleted,true)), Not(EqualTo(vec_id,1))]")(i =>
    run(VectorIndex.getByIds(spark, appended,
      Seq(updated(i.toInt % updated.size), 900 + i, 901 + i))))
}

package graft.tools

import graft.GraftSession
import graft.operators.VectorIndex

/** Store-health report runner (r18, VERDICT r17 item 6) — the operational
  * consumer of the `ann_eval*` recall measurements: runs
  * [[VectorIndex.storeHealth]] against a materialized IVF store and
  * prints ONE JSON line with the recall-vs-floor verdict and the remedy
  * (`compactStore(retrain = true)`) when the index has drifted below the
  * pinned floor — the reference operator's "index degraded — rebuild"
  * signal, as a report instead of a silent metric.
  *
  * Queries default to the lowest-id live rows of the store's NEWEST
  * generation: under drift it is the freshest appends whose retrieval
  * silently degrades (in-distribution rows keep well-probed partitions),
  * so the health probe samples where the risk is.
  *
  * Usage: StoreHealth <storePath> [recallFloor] [nprobe] [k]
  * (defaults 0.8, 4 and 5; env: SPARK_GRAFT_CPUS)
  *
  * End-to-end behavior (degrade → recommend → retrain → recover) is
  * pinned by the storeHealth case in StoreSearchSpec. */
object StoreHealth {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StoreHealth <storePath> [recallFloor] [nprobe] [k]")
    val path = args(0)
    val floor = if (args.length > 1) args(1).toDouble else 0.8
    val nprobe = if (args.length > 2) args(2).toInt else 4
    val k = if (args.length > 3) args(3).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.local(cpus)
    try {
      val ids = VectorIndex.newestGenIds(spark, path, 5)
      // loud, not a silent fallback (r19, ADVICE r18): an empty probe set
      // means the store has no live rows — baseline probes would measure
      // nothing meaningful, so fail here with the reason in the message
      require(ids.nonEmpty,
        s"StoreHealth: store $path has no live rows to probe (every id " +
          "resolves to a tombstone) — nothing to measure")
      val r = VectorIndex.storeHealth(spark, path, queryIds = ids,
        k = k, nprobe = nprobe, recallFloor = floor).collect().head
      def s4(v: Double) =
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
      def s4n(name: String) =
        if (r.isNullAt(r.fieldIndex(name))) "null"
        else s4(r.getAs[Double](name))
      println(
        s"""{"metric":"store_health","store":"$path"""" +
          s""","query_ids":[${ids.mkString(",")}]""" +
          s""","n_queries":${r.getAs[Long]("n_queries")}""" +
          s""","k":${r.getAs[Int]("k")}""" +
          s""","nprobe":${r.getAs[Int]("nprobe")}""" +
          s""","mean_recall":${s4(r.getAs[Double]("mean_recall"))}""" +
          s""","min_recall":${s4(r.getAs[Double]("min_recall"))}""" +
          s""","mean_recall_pq":${s4n("mean_recall_pq")}""" +
          s""","min_recall_pq":${s4n("min_recall_pq")}""" +
          s""","recall_floor":${s4(r.getAs[Double]("recall_floor"))}""" +
          s""","healthy":${r.getAs[Boolean]("healthy")}""" +
          s""","recommendation":"${r.getAs[String]("recommendation")}"}""")
    } finally spark.stop()
  }
}

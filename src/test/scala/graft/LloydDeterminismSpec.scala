package graft

import graft.functions.IndexOps
import graft.operators.VectorIndex
import org.apache.spark.sql.functions._

/** The property the whole IVF oracle graduation rests on: fixed-point
  * Lloyd training is bit-deterministic — independent of input
  * partitioning, row order, and accumulation schedule — because every
  * reduction in the loop is an integer sum and every comparison is an
  * integer argmin. A float-sum trainer fails this under repartitioning;
  * the quantized trainer cannot. */
class LloydDeterminismSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def flat(m: Array[Array[Float]]): Seq[Float] = m.flatten.toSeq

  test("trained centroids are bit-identical under any partitioning") {
    val base = VectorIndex.trainLloyd(emb)
    val shuffled = VectorIndex.trainLloyd(
      emb.repartition(7, col("vec_id")).sortWithinPartitions(desc("vec_id")))
    val single = VectorIndex.trainLloyd(emb.coalesce(1))
    assert(flat(base) == flat(shuffled),
      "repartitioned training diverged — a non-integer reduction leaked in")
    assert(flat(base) == flat(single))
  }

  /** The Spark aggregate loop the trainers ran before they moved to the
    * driver, kept as the comparison: sample and seeds in Spark, then per
    * iteration one assignment scan and a (cluster, dim)-keyed integer-sum
    * aggregate collected to the driver — for IVF over the whole vector,
    * for PQ over each subspace's slice. */
  private object SparkLoop {
    import VectorIndex.{Iters, K, PqM, PqSubDim}
    import graft.functions.IndexFunctions
    import org.apache.spark.sql.{Column, DataFrame}

    private def sample(emb: DataFrame, maxTrain: Int): DataFrame = {
      val keepMod = VectorIndex.sampleKeepMod(emb.count(), maxTrain)
      if (keepMod == 1L) emb else emb.where(VectorIndex.samplePredicate(keepMod))
    }
    private def deQ(q: Long): Float = (q.toDouble / IndexOps.QScale).toFloat
    private def qCol(v: Column): Column =
      floor(v.cast("double") * IndexOps.QScale + 0.5).cast("long")

    /** Lloyd over `width` dims from `off` of every row, from `init`. */
    private def loop(s: DataFrame, off: Int,
        init: Array[Array[Float]]): Array[Array[Float]] = {
      val width = init(0).length
      var cs = init
      for (_ <- 1 to Iters) {
        val sums = s
          .select(IndexFunctions.nearestCentroid(
              slice(col("embedding"), off + 1, width), cs)
            .getField("centroid_id").as("cid"),
            posexplode(slice(col("embedding"), off + 1, width))
              .as(Seq("dim", "v")))
          .groupBy(col("cid"), col("dim"))
          .agg(sum(qCol(col("v"))).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cs.map(_.clone())
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = deQ(Math.floorDiv(
            2L * r.getLong(2) + r.getLong(3), 2L * r.getLong(3)))
        }
        cs = next
      }
      cs
    }

    def train(emb: DataFrame, maxTrain: Int)
        : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
      val s = sample(emb, maxTrain).cache()
      try {
        val seeds = s.orderBy(col("vec_id")).limit(K).collect()
          .map(_.getSeq[Float](1).toArray)
        val pqSeeds = (sub: Int) => seeds.map(r => Array.tabulate(PqSubDim)(d =>
          deQ(IndexOps.quantize(r(sub * PqSubDim + d).toDouble))))
        (loop(s, 0, seeds),
          Array.tabulate(PqM)(sub => loop(s, sub * PqSubDim, pqSeeds(sub))))
      } finally s.unpersist()
    }
  }

  private def nested(cb: Array[Array[Array[Float]]]) =
    cb.map(_.map(_.toSeq).toSeq).toSeq

  test("driver trainers are bit-identical to the Spark aggregate loop") {
    // the trained models are the oracle-replayed contract: moving the
    // iterations from Spark aggregates to the driver must reproduce the
    // centroids and all 8 codebooks exactly, with the sample at the
    // identity (default cap) and with hash sampling engaged (cap 100)
    for (cap <- Seq(VectorIndex.MaxTrain, 100)) {
      val (refC, refCb) = SparkLoop.train(emb, cap)
      assert(refCb.length == VectorIndex.PqM)
      assert(flat(VectorIndex.trainLloyd(emb, maxTrain = cap)) == flat(refC),
        s"driver centroids diverged from the Spark loop at cap $cap")
      assert(nested(VectorIndex.trainPq(emb, maxTrain = cap)) == nested(refCb),
        s"driver PQ codebooks diverged from the Spark loop at cap $cap")
    }
  }

  test("sampled training equals training on the explicit sample slice") {
    // force the cap below the corpus size so the vec_id-hash sample
    // actually engages (at the default MaxTrain every test SF is under
    // the cap and the sample is the identity)
    val cap = 100
    val n = emb.count()
    val keepMod = VectorIndex.sampleKeepMod(n, cap)
    assert(keepMod > 1, s"cap $cap must engage sampling on $n rows")
    val explicit = emb.where(VectorIndex.samplePredicate(keepMod))
    val nSample = explicit.count()
    assert(nSample > 0 && nSample < n, "sample must be a strict subset")
    assert(nSample <= 2L * cap, s"hash slice far off target: $nSample vs $cap")
    val sampled = VectorIndex.trainLloyd(emb, maxTrain = cap)
    val direct = VectorIndex.trainLloyd(explicit, maxTrain = Int.MaxValue)
    assert(flat(sampled) == flat(direct),
      "sampled training must be exactly training-on-the-sample")
    // and the sample path keeps the partitioning-invariance property
    val shuffled = VectorIndex.trainLloyd(
      emb.repartition(7, col("vec_id")).sortWithinPartitions(desc("vec_id")),
      maxTrain = cap)
    assert(flat(sampled) == flat(shuffled))
  }

  test("quantization is the exact half-up grid on representative values") {
    // float→double is exact, *2^20 shifts the exponent, +0.5/floor is the
    // explicit half-up form: spot-check the corners a binary-vs-decimal
    // confusion would break
    assert(IndexOps.quantize(0.0) == 0L)
    assert(IndexOps.quantize(1.0) == 1048576L)
    assert(IndexOps.quantize(-1.0) == -1048576L)
    // exact .5 ulps round half-up (toward +inf), both signs
    assert(IndexOps.quantize(0.5 / 1048576.0) == 1L)
    assert(IndexOps.quantize(-0.5 / 1048576.0) == 0L)
    assert(IndexOps.quantize(-1.5 / 1048576.0) == -1L)
  }

  test("centroid coordinates survive the float round-trip exactly") {
    // serving persists centroids as float; the oracle contract needs
    // quantize(float(cq/2^20)) == cq for every trained coordinate
    val trained = VectorIndex.trainLloyd(emb)
    trained.flatten.foreach { f =>
      val cq = IndexOps.quantize(f.toDouble)
      assert((cq.toDouble / IndexOps.QScale).toFloat == f)
    }
  }
}

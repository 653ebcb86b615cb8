package graft

import graft.operators.VectorIndex
import org.apache.spark.sql.functions._

/** The trainers' Spark cost is their sample's count and one collect: the
  * Lloyd and PQ iterations run on the driver over the held sample, so the
  * number of Spark jobs a training run starts does not grow with
  * `VectorIndex.Iters`. A per-iteration aggregate loop starts at least one
  * job per iteration on top of the sample's. */
class TrainerJobsSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  test("trainLloyd and trainPq start the sample's count and one collect, whatever Iters is") {
    val sampleJobs = jobsOf { emb.count(); emb.collect(): Unit }
    val trainers = Seq(
      "trainLloyd" -> (() => VectorIndex.trainLloyd(emb): Unit),
      "trainPq" -> (() => VectorIndex.trainPq(emb): Unit))
    trainers.foreach { case (name, train) =>
      val jobs = jobsOf(train())
      assert(jobs <= sampleJobs,
        s"$name started $jobs jobs; its sample's count + collect start $sampleJobs")
      assert(jobs < VectorIndex.Iters,
        s"$name started $jobs jobs for ${VectorIndex.Iters} iterations")
    }
  }
}

package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.VectorIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The trainers' Spark cost is their sample's count and one collect: the
  * Lloyd and PQ iterations run on the driver over the held sample, so the
  * number of Spark jobs a training run starts does not grow with
  * `VectorIndex.Iters`. A per-iteration aggregate loop starts at least one
  * job per iteration on top of the sample's. */
class TrainerJobsSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  /** Jobs `body` starts, counted by a listener on a fresh job group. A
    * fence job in a second group is run after `body`: the listener bus
    * delivers events in order, so once the fence's start is seen every
    * job `body` started has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${UUID.randomUUID()}"
    val fence = s"fence-${UUID.randomUUID()}"
    val jobs = new AtomicInteger
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "trainer job count")
      body
      sc.setJobGroup(fence, "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "the fence job's start never reached the listener")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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

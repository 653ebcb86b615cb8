package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — the per-job
  * floor on this machine makes per-suite sessions prohibitively slow). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs `body` starts, counted by a listener on a fresh job group. A
    * fence job in a second group is run after `body`: the listener bus
    * delivers events in order, so once the fence's start is seen every
    * job `body` started has been counted. */
  def jobsOf(body: => Unit): Int = {
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
      sc.setJobGroup(group, "job count")
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

  /** Parquet files in the append delta of the store at `path`: 0 when it
    * has none, the state in which every read is the base scan alone. */
  def deltaFiles(path: String): Int = {
    val d = java.nio.file.Paths.get(s"$path/vectors_delta")
    if (!java.nio.file.Files.isDirectory(d)) 0
    else {
      val files = java.nio.file.Files.list(d)
      try files.filter(_.getFileName.toString.endsWith(".parquet")).count().toInt
      finally files.close()
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // keep catalog metadata out of the repo tree (saveAsTable would
      // otherwise create ./spark-warehouse even for external tables)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution

/** Measurement harness for the optimization rounds: for each named query
  * (default: all), write its `explain("formatted")` plan to
  * `<outDir>/<query>.txt` and — with `--run` — execute it once against the
  * noop sink under a listener that counts jobs / stages / tasks, printing a
  * per-query summary line. Job and stage counts are the small-SF signal the
  * wall clock hides (this host's warm per-job floor is ~0.5 s, so a query
  * that runs 6 jobs cannot beat 3 s at any SF however fast its operators
  * are).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [--run] [--jobs]
  *   [--stages] [--final] [q1 q2 ...]
  * `--stages` prints one line per completed stage (tasks, wall, run and
  * CPU time, shuffle bytes read and written, bytes spilled from memory
  * and to disk); `--final` dumps the plan after executing it.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/plans")
    val run = args.contains("--run")
    val names0 = args.drop(2).filterNot(_.startsWith("--")).toSeq
    val names =
      if (names0.nonEmpty) names0 else SparkEntry.queries.keySet.toSeq.sorted
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: $unknown")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var runMs = 0L
    @volatile var cpuMs = 0L
    @volatile var swB = 0L
    @volatile var srB = 0L
    val jobStartNs =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobLog = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        jobStartNs.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = jobStartNs.remove(j.jobId)
        if (t0 != 0L)
          jobLog.add((j.jobId, (System.nanoTime() - t0) / 1e9, ""))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        runMs += s.stageInfo.taskMetrics.executorRunTime
        cpuMs += s.stageInfo.taskMetrics.executorCpuTime / 1000000
        swB += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        srB += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        if (args.contains("--stages")) {
          val i = s.stageInfo
          val m = i.taskMetrics
          val wall = (for (a <- i.completionTime; b <- i.submissionTime)
            yield a - b).getOrElse(-1L)
          println(f"[stage] id=${i.stageId}%4d n=${i.numTasks}%4d " +
            f"wall=${wall}%5dms run=${m.executorRunTime}%6dms " +
            f"cpu=${m.executorCpuTime / 1000000}%6dms " +
            f"deser=${m.executorDeserializeTime}%5dms " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead}%9d " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten}%9d " +
            f"spill_mem=${m.memoryBytesSpilled}%9d " +
            f"spill_disk=${m.diskBytesSpilled}%9d  " +
            i.name.take(80))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val perJob = args.contains("--jobs")

    for (name <- names) {
      if (run) {
        // a full per-call sample rebuilds the frame, like Bench.sample —
        // several operators do eager driver-side work (trainer loops,
        // probes) at CONSTRUCTION time that a reused frame would hide
        spark.sparkContext.setJobDescription(s"plandump: $name")
        jobs = 0; stages = 0; tasks = 0; runMs = 0L; cpuMs = 0L; swB = 0L; srB = 0L
        jobLog.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val coldJobs = jobs
        if (perJob) {
          jobLog.forEach { case (id, sec, _) =>
            println(f"[plandump]   $name cold job $id%5d: $sec%7.3f s")
          }
        }
        // second full sample in the same session: warm caches (signature
        // tables, model state) — the steady-state cost min-of-2 keeps
        jobs = 0; stages = 0; tasks = 0; runMs = 0L; cpuMs = 0L; swB = 0L; srB = 0L
        jobLog.clear()
        val t1 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt2 = (System.nanoTime() - t1) / 1e9
        if (perJob) {
          jobLog.forEach { case (id, sec, _) =>
            println(f"[plandump]   $name job $id%5d: $sec%7.3f s")
          }
        }
        println(f"[plandump] $name%-28s cold=$dt%7.2fs ($coldJobs%3d jobs) " +
          f"warm=$dt2%7.2fs warm_jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d " +
          f"run=${runMs}ms cpu=${cpuMs}ms sw=${swB} sr=${srB}")
        spark.sparkContext.setJobDescription(null)
      }
      val df = SparkEntry.queries(name)(spark, sfDir)
      // --final: execute THIS frame's own plan first, so the dumped
      // AdaptiveSparkPlan is the post-AQE final plan (isFinalPlan=true) —
      // runtime join strategies, AQEShuffleReads and reused exchanges
      // included. A noop write would plan and run a QueryExecution of its
      // own and leave this one unexecuted.
      if (args.contains("--final")) {
        val qe = df.queryExecution
        SQLExecution.withNewExecutionId(qe, Some("plandump --final"))(
          qe.executedPlan.execute().foreach(_ => ()))
      }
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
      if (!run) println(s"[plandump] $name plan written")
    }
    spark.stop()
  }
}

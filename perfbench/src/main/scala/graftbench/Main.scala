package graftbench

import graft.GraftSession

/** Benchmark entry point: one run of one workload.
  *
  * {{{
  * graftbench.Main --workload serve|ingest_serve --seed N --seconds S
  *                 --trace 0|1 --scratch DIR [--spans FILE (traced runs)]
  * }}}
  *
  * Generates the seeded corpus under `--scratch`, sets the workload up,
  * measures its closed loop for `--seconds`, checks every response, and
  * prints one JSON object as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`. Untraced runs report the
  * end-to-end metrics; traced runs (`--trace 1`) register the span listener,
  * report the per-layer metrics and write the spans, plus the end-to-end
  * figures measured under tracing, to `--spans`. Exits 1 when a check fails.
  */
object Main {
  /** `local[4]`: one Spark core per CPU of the 4-core machine the benchmark
    * is sized on. */
  final val Cores = 4

  private def fail(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => fail(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, fail(s"--$k is required"))
    val mix = Mix.all.getOrElse(opt("workload"),
      fail(s"unknown workload ${opt("workload")}; known: ${Mix.all.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val scratch = opt("scratch")

    val spark = GraftSession.local(Cores)
    val tracer =
      if (traced) { val t = new Tracer.On(spark.sparkContext); spark.sparkContext.addSparkListener(t); t }
      else Tracer.Off
    val t0 = System.nanoTime()
    val corpus = Corpus.generate(spark, s"$scratch/corpus", seed)
    val genNs = System.nanoTime() - t0
    Workload.log(f"corpus generated in ${genNs / 1e9}%.2f s")
    // set-up runs from JVM start, input generation excluded
    val uptimeNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val startNs = System.nanoTime() - uptimeNs + genNs
    val out = new Workload(spark, corpus, mix, tracer, seed, seconds).run(scratch, startNs)

    out.errors.take(20).foreach(e => Workload.log(s"FAILED $e"))
    Workload.log(s"${mix.name} seed $seed: ${out.summary}")
    val metrics = if (traced) out.layers else out.endToEnd
    val finite = metrics.forall(m => java.lang.Double.isFinite(m._2))
    if (!finite) Workload.log(
      s"FAILED metrics without samples: ${metrics.filterNot(m => java.lang.Double.isFinite(m._2)).map(_._1).mkString(", ")}")
    val correct = out.failed == 0 && finite

    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      val num = if (java.lang.Double.isFinite(v)) v.toString else "null"
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

    tracer match {
      case t: Tracer.On =>
        val path = opt("spans")
        val body = s"""{"workload": "${mix.name}", "seed": $seed, "seconds": $seconds,
          |"end_to_end": ${obj(out.endToEnd)},
          |"per_layer": ${obj(out.layers)},
          |"spans": ${t.spansJson}}
          |""".stripMargin
        java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
      case _ =>
    }
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": ${obj(metrics)}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

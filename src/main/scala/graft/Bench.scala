package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line.
  *
  * Measurement discipline (this host is a noisy-neighbor VM with
  * multi-second CPU-steal bursts; a single sample can be 5-50× steady
  * state):
  *   - the action is a write to the `noop` sink, which executes the FULL
  *     plan including final sorts (a bare `count()` lets Catalyst drop
  *     order-by stages and under-measures);
  *   - every query runs twice (pass 1 also pays Janino/JIT warmup) and the
  *     min is kept;
  *   - an outlier-retry pass then re-runs any query whose min is still
  *     > 5× the median of the other mins — a steal burst that hit both
  *     passes of one query would otherwise report as engine time;
  *   - failures are NOT swallowed: a crashed query reports `"failed"` and
  *     is excluded from the total rather than masquerading as a fast run;
  *   - every artifact carries a WINDOW CALIBRATION block (below), so a
  *     cross-round wall-clock delta is a measurement, not an argument.
  */
object Bench {
  private def runOnce(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Window-calibration probe: four fixed, never-changing micro-tasks
    * whose cost depends only on the host window (clock speed, CPU steal,
    * IO path, page-cache state), never on engine code under test:
    *   - `cpu_st`: a single-thread SplitMix64 mixing loop — raw
    *     one-core speed and steal;
    *   - `cpu_mt`: the same mix as a hash-aggregate over `spark.range`
    *     across all cores — aggregate thread throughput;
    *   - `io`: raw strided reads over the sweep's largest tables —
    *     page-cache/IO state (single pass by design; see below);
    *   - `scan`: full lineitem parquet scan + sum — decode/IO at the
    *     sweep's own SF.
    * CPU/scan probes sample twice, min kept (same discipline as
    * queries); `io` is one pass (a second would measure the warm path).
    * The probe runs BEFORE and AFTER the sweep — a multi-hour window can
    * drift mid-sweep — and both samples land in the artifact, so
    * round-over-round query ratios can be normalized by the calibration
    * ratio of the same windows (SURVEY §8: r12→r13 showed uniform ~1.45×
    * drift on provably-unchanged code that this block would have priced).
    *
    * Reading note (r15): the POST `cpu_st` sample carries a systematic
    * ~1.2-1.4× elevation in EVERY artifact regardless of sweep length or
    * load — an end-of-JVM-life effect on the single-thread loop, not
    * host drift. Read post-probe deltas against that baseline; only
    * multiples beyond it (r14's tail collapse was 4.3×) indicate a real
    * mid-sweep window change. `cpu_mt` does not show the bias. */
  private[graft] def calibrate(spark: SparkSession, sfDir: String): Map[String, Double] = {
    def time2(body: => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    val cpuSt = time2 {
      var z = 0x243F6A8885A308D3L // pi digits; any fixed seed works
      var acc = 0L
      var i = 0
      while (i < 1000000000) {
        z += 0x9E3779B97F4A7C15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        acc ^= x ^ (x >>> 31)
        i += 1
      }
      if (acc == 42L) println(acc) // keep the loop un-eliminable
    }
    val cpuMt = time2 {
      import org.apache.spark.sql.functions._
      // bit_xor, not sum: a 1e9-row sum of 64-bit hashes overflows long
      // under ANSI mode; xor is closed over Long
      spark.range(0L, 4000000000L, 1L, spark.sparkContext.defaultParallelism)
        .agg(bit_xor(xxhash64(org.apache.spark.sql.functions.col("id")))).collect()
    }
    // `io`: page-cache/IO-state probe (r16, VERDICT r15 item 2) — raw
    // strided reads over the sweep's own largest tables (lineitem,
    // documents, embeddings), no Spark, no decode. Deliberately a SINGLE
    // pass, not min-of-2: the first read of a byte range is what senses
    // whether those pages are resident; a second pass would always
    // measure the warm path and the probe would price nothing. The
    // residual sf100 cross-sweep swings (q1_agg 6.3↔22.6 s between the
    // two r15 sweeps) are exactly the state this reads: pre≈post and
    // both small → tables resident, wall-clock deltas are engine or CPU
    // window; pre large → the sweep started cold and first-touch
    // queries paid real IO the cpu probes can't see. Fixed stride (1 MiB
    // every 32 MiB, ≤96 MiB per table) keeps the probe itself from
    // flushing or fully warming the cache it measures. Ordered BEFORE the
    // `scan` probe, which reads all of lineitem and would warm exactly
    // the ranges this one senses.
    val io = {
      val buf = new Array[Byte](1 << 20)
      // the 96 MiB cap is per TABLE, shared across its part files — a
      // multi-file replica table (4000 parts at sf100) must not multiply
      // the probe's footprint by its file count (a per-file cap read
      // ~GiBs there: slow, and warming far more cache than a passive
      // state sensor may)
      def strided(f: java.io.File, readSoFar: Long, cap: Long): Long = {
        val ch = java.nio.channels.FileChannel.open(
          f.toPath, java.nio.file.StandardOpenOption.READ)
        try {
          var pos = 0L
          var read = readSoFar
          while (pos < ch.size() && read < cap) {
            val bb = java.nio.ByteBuffer.wrap(buf)
            var n = 0
            while (n >= 0 && bb.hasRemaining && pos + bb.position() < ch.size())
              n = ch.read(bb, pos + bb.position())
            read += bb.position()
            pos += (32L << 20)
          }
          read
        } finally ch.close()
      }
      val t0 = System.nanoTime()
      for (t <- Seq("lineitem.parquet", "documents.parquet",
          "embeddings.parquet")) {
        val root = new java.io.File(s"$sfDir/$t")
        val files =
          if (root.isDirectory)
            root.listFiles().filter(_.getName.endsWith(".parquet"))
              .sortBy(_.getName)
          else if (root.isFile) Array(root)
          else Array.empty[java.io.File]
        var read = 0L
        val cap = 96L << 20
        val it = files.iterator
        while (it.hasNext && read < cap) read = strided(it.next(), read, cap)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val scan = time2 {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(sum(col("l_extendedprice")), count(lit(1))).collect()
    }
    Map("cpu_st" -> cpuSt, "cpu_mt" -> cpuMt, "scan" -> scan, "io" -> io)
  }

  /** Queries whose OUTPUT is the doc-level pair expansion — correct by
    * contract (graded at sf0.01) but output-bound at large SF
    * (dedup_simhash emitted ~214B rows / 1131 s at sf100; dedup_embedding
    * is declared Θ(n²) and cost 1287 of 1517 s at sf10). Their scale-safe
    * siblings (`*_repr`, `dedup_embedding_lsh`) measure the same core
    * work, so above sf1 the sweep fences the pair modes by default —
    * they land in `"skipped"` (self-describing artifact). An explicit
    * SPARK_GRAFT_ONLY naming one, or SPARK_GRAFT_UNFENCE=1, overrides. */
  private val pairModeFence = Set("dedup_simhash", "dedup_embedding")

  /** Scale factor parsed from the data directory's basename. The
    * pair-mode fence keys off this, so an unparseable name must FAIL,
    * not default to 0.0 — a large-scale dataset in a directory named
    * e.g. `corpus/` would otherwise silently unfence the multi-hour
    * ~214B-row pair expansions. SPARK_GRAFT_UNFENCE stays the explicit
    * escape hatch for both "unfence a parseable sf" and "my directory
    * name carries no sf but I know it's small". */
  private[graft] def sfOf(sfDir: String): Double = {
    val m = "sf([0-9]*\\.?[0-9]+)".r.findFirstMatchIn(
      new java.io.File(sfDir).getName)
    require(m.isDefined || sys.env.contains("SPARK_GRAFT_UNFENCE"),
      s"cannot parse a scale factor from '$sfDir' (expected 'sf<number>' " +
        "in the basename); the pair-mode fence needs one — set " +
        "SPARK_GRAFT_UNFENCE=1 to run anyway (pair modes included)")
    m.map(_.group(1).toDouble).getOrElse(0.0)
  }

  /** The queries the pair-mode fence removes from this sweep. The sf
    * fail-fast above fires only when a pair-mode query is actually a
    * CANDIDATE (survives skip/only): a sweep restricted to non-pair
    * queries needs no fence decision, so an sf-less data dir must not
    * abort it (r16, ADVICE r15). An `only` naming a pair query is the
    * explicit ask — never fenced. */
  private[graft] def fencedQueries(
      sfDir: String, base: Set[String], skip: Set[String],
      only: Set[String]): Set[String] = {
    val candidates = (base -- skip) intersect (pairModeFence -- only)
    if (candidates.nonEmpty && !sys.env.contains("SPARK_GRAFT_UNFENCE")
        && sfOf(sfDir) > 1.0)
      candidates
    else Set.empty[String]
  }

  /** Per-query seconds from a previous Bench artifact (one JSON line,
    * the `bench/r{N}_*.json` shape). Fails loudly on a file without a
    * `queries` map — a silently-empty reference would disable the
    * ref-retry below without a trace. */
  private[graft] def refTimes(path: String): Map[String, Double] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val qn = Option(node.get("queries")).getOrElse(
      throw new IllegalArgumentException(
        s"$path: no 'queries' map — SPARK_GRAFT_REF needs a plain Bench " +
          "artifact line (bench/r{N}_*.json), not a driver-wrapped one"))
    // a malformed 'queries' must fail as loudly as a missing one (r17,
    // ADVICE r16): a non-object yields an empty fields() iterator and
    // non-numeric values coerce to 0.0 via asDouble() — both silently
    // disable or mis-arm the ref-retry this guard exists to protect
    if (!qn.isObject)
      throw new IllegalArgumentException(
        s"$path: 'queries' is not an object (${qn.getNodeType}) — " +
          "SPARK_GRAFT_REF needs a plain Bench artifact line")
    val it = qn.properties().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) {
      val e = it.next()
      if (!e.getValue.isNumber)
        throw new IllegalArgumentException(
          s"$path: queries.${e.getKey} is not a number " +
            s"(${e.getValue.getNodeType}) — a coerced 0.0 would make every " +
            "measurement look like a >2x regression and retry the sweep")
      b += e.getKey -> e.getValue.asDouble()
    }
    b.result()
  }

  /** JVM aging counters (r17, VERDICT r16 item 4): cumulative GC time/
    * count, JIT compilation time, and code-cache occupancy. Sampled
    * around every query sample (a handful of MXBean reads — microseconds
    * against multi-second queries) so that when a query TRIPS a retry,
    * the artifact carries the JIT/GC state of the slow sample itself —
    * the in-JVM-aging swing class (q1_agg 31 s in-sweep vs 5.5 s
    * fresh-JVM, r16) has been detected and discarded mechanically for
    * two rounds but never NAMED; a trip whose slow sample shows a
    * near-full code cache or a multi-second GC delta is named. */
  private def jvmCounters(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val comp = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
    // both pool namings (r18, ADVICE r17): a segmented code cache
    // (default) exposes three "CodeHeap '...'" pools; non-segmented
    // (-XX:-SegmentedCodeCache / -XX:-TieredCompilation) exposes one
    // "Code Cache" pool — matching only the former silently read 0 there
    // and a trip diagnosis would falsely rule out code-cache pressure.
    // No matching pool at all emits the -1 sentinel, like jit_ms.
    val cc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") ||
        p.getName == "Code Cache")
    Map(
      "gc_ms" -> gc.map(_.getCollectionTime.toDouble).sum,
      "gc_n" -> gc.map(_.getCollectionCount.toDouble).sum,
      "jit_ms" -> comp.map(_.getTotalCompilationTime.toDouble).getOrElse(-1.0),
      "codecache_used_mb" ->
        (if (cc.isEmpty) -1.0
         else cc.map(_.getUsage.getUsed.toDouble).sum / (1 << 20)),
      "codecache_max_mb" ->
        (if (cc.isEmpty) -1.0
         else cc.map(p =>
           math.max(p.getUsage.getMax, 0L).toDouble).sum / (1 << 20)))
  }

  /** Queries whose measured min sits far above the same query's time in
    * the reference artifact — the in-sweep swing victims (q1_agg measured
    * 31 s in the r16 sf100 sweep, 5.5 s isolated in a fresh JVM; the r15
    * sweeps had the same class of hit on q5_join/q18). The median-retry
    * above can't separate them from the genuine heavy tail (both sit
    * 5×+ over the sweep median), but the previous round's own number
    * can: the heavy tail is STABLE round-over-round, a swing hit is not.
    * `factor` defaults to 2× — above any window drift the calibration
    * blocks have ever recorded (§8: r12→r13 was ~1.45×) — and `floor`
    * to the measured sf0.1 noise floor (bench/noise_floor_sf01.json), so
    * sub-noise queries never retry. */
  private[graft] def refRetryCandidates(
      measured: Map[String, Double], ref: Map[String, Double],
      factor: Double, floor: Double): Seq[String] =
    measured.collect {
      case (n, t) if t >= floor && ref.get(n).exists(r => t > factor * r) => n
    }.toSeq.sorted

  /** The ref-retry flagging floor, resolved per SF (r17, VERDICT r16
    * item 6): explicit SPARK_GRAFT_REF_FLOOR wins; otherwise the
    * measured noise-floor artifact for THIS sweep's scale
    * (`bench/noise_floor_<tag>.json`, tag = the data dir basename with
    * dots stripped — sf0.1→sf01, sf100→sf100 — written by
    * tools/noise_floor.py); otherwise the sf0.1-measured 2.0 s, which
    * under-floors larger SFs (sf100's sub-10 s band swings wider) but
    * only costs extra re-samples, never a missed real regression. */
  private[graft] def refFloor(
      sfDir: String, refPath: Option[String] = None): Double =
    sys.env.get("SPARK_GRAFT_REF_FLOOR").map(_.toDouble).getOrElse {
      val tag = new java.io.File(sfDir).getName.replace(".", "")
      // resolution order (r18, ADVICE r17): next to the SPARK_GRAFT_REF
      // artifact first (ref artifacts live in bench/, so a Bench run
      // from outside the repo root no longer silently loses the measured
      // floor), then bench/ under CWD
      val candidates =
        refPath.flatMap(p => Option(new java.io.File(p).getParentFile))
          .map(d => new java.io.File(d, s"noise_floor_$tag.json")).toSeq :+
          new java.io.File(s"bench/noise_floor_$tag.json")
      candidates.find(_.isFile).flatMap { f =>
        // one fallback policy for every malformed shape (r18, ADVICE
        // r17): a floor file that won't parse degrades to the default
        // like a missing or non-numeric one — with a trace — rather
        // than aborting a sweep over an advisory knob
        try Option(new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f).get("floor_sec"))
          .filter(_.isNumber).map(_.asDouble())
        catch {
          case e: java.io.IOException =>
            System.err.println(
              s"BENCH WARN unparseable noise-floor file $f " +
                s"(${e.getMessage}); using the 2.0 s default")
            None
        }
      }.getOrElse(2.0)
    }

  /** Fork a fresh JVM to re-measure one query in isolation and return
    * its measured seconds — the automated version of r17's hand-run
    * fresh-JVM receipts (VERDICT r17 item 3): a ref-retried query that
    * STAYS slow with quiet JIT carries the C2-profile-pollution
    * signature, and the only reading that separates "the engine got
    * slower" from "this JVM aged" is the same query in a JVM with
    * virgin profiles. The child runs this same Bench main restricted to
    * the one query (SPARK_GRAFT_ONLY) with retries disabled, writing its
    * line to a private temp file (SPARK_GRAFT_OUT) that is parsed with
    * the same refTimes reader the artifacts already use. */
  /** Classpath the forked child can actually resolve graft.Bench from
    * (r19, ADVICE r18): under sbt's layered classloaders
    * `java.class.path` is the sbt launcher alone — a child started on it
    * failed to find the class and the receipt was silently lost. The
    * fallback reconstructs "(graft classes dir) + (spark jars dir)
    * wildcard" from the code-source locations of this class and
    * SparkSession; SPARK_GRAFT_FRESH_CP overrides everything. */
  private def freshJvmClasspath(): String = {
    def codeSrc(c: Class[_]): Option[java.io.File] =
      try Option(c.getProtectionDomain.getCodeSource)
        .map(cs => new java.io.File(cs.getLocation.toURI))
      catch { case _: Exception => None }
    sys.env.getOrElse("SPARK_GRAFT_FRESH_CP", {
      val inherited = System.getProperty("java.class.path")
      val sep = java.io.File.pathSeparator
      val hasGraft = inherited.split(sep).exists(p =>
        new java.io.File(p, "graft/Bench$.class").exists())
      if (hasGraft) inherited
      else (codeSrc(getClass),
            codeSrc(classOf[org.apache.spark.sql.SparkSession])) match {
        case (Some(g), Some(sj)) =>
          s"${g.getAbsolutePath}$sep${sj.getParentFile.getAbsolutePath}" +
            s"${java.io.File.separator}*"
        case _ => inherited // nothing better known; the fork will say so
      }
    })
  }

  private[graft] def freshJvmMeasure(
      name: String, timeoutMin: Long = 45,
      extraEnv: Map[String, String] = Map.empty): Option[Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    // heap: the child runs NEXT TO the parent session, whose -Xmx-sized
    // heap is still resident — inheriting a 64g parent cap doubles the
    // window's peak demand (ADVICE r18). SPARK_GRAFT_FRESH_XMX bounds
    // the child independently; unset keeps the inherited flags.
    val freshXmx = sys.env.get("SPARK_GRAFT_FRESH_XMX")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        ((a.startsWith("-Xmx") || a.startsWith("-Xms")) && freshXmx.isEmpty) ||
          a.startsWith("-XX") || a.startsWith("--add-opens") ||
          a.startsWith("--add-exports") || a.startsWith("--enable-native-access")) ++
      freshXmx.map(x => s"-Xmx$x")
    val out = java.io.File.createTempFile(s"graft_fresh_$name", ".json")
    val log = java.io.File.createTempFile(s"graft_fresh_$name", ".log")
    val cmd = (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", freshJvmClasspath(), "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    val env = pb.environment()
    env.put("SPARK_GRAFT_ONLY", name)
    env.put("SPARK_GRAFT_NO_RETRY", "1")
    env.put("SPARK_GRAFT_OUT", out.getAbsolutePath)
    extraEnv.foreach { case (k, v) => env.put(k, v) }
    env.remove("SPARK_GRAFT_REF")
    env.remove("SPARK_GRAFT_FRESH_JVM")
    env.remove("SPARK_GRAFT_EMIT_SAMPLES")
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    try {
      val proc = pb.start()
      if (!proc.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)) {
        proc.destroyForcibly(): Unit
        System.err.println(
          s"BENCH WARN fresh-JVM re-measure of $name timed out " +
            s"(${timeoutMin}m); log: $log")
        None
      } else if (proc.exitValue() != 0) {
        System.err.println(
          s"BENCH WARN fresh-JVM re-measure of $name exited " +
            s"${proc.exitValue()}; log: $log")
        None
      } else refTimes(out.getAbsolutePath).get(name)
    } catch {
      case e: Exception =>
        System.err.println(
          s"BENCH WARN fresh-JVM re-measure of $name failed: " +
            s"${e.getClass.getName}: ${e.getMessage}; log: $log")
        None
    } finally { out.delete(); () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    // opt-out knob for sweep variants (e.g. the declared-quadratic
    // dedup_embedding at sf1, where it alone is ~55% of wall time and its
    // sub-quadratic sibling is benched anyway)
    val skip = sys.env.getOrElse("SPARK_GRAFT_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // include-list knob for family-targeted large-SF sweeps (a 30-query
    // sf10 rehearsal would otherwise need the 60-query complement spelled
    // out as SKIP); unknown names fail loudly instead of silently
    // shrinking the sweep
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: $unknown")
    val spark = GraftSession.local(cpus)
    val base = if (only.nonEmpty) only else SparkEntry.queries.keySet
    // pair-mode fence: above sf1 the output-bound pair expansions are
    // skipped unless explicitly asked for (see pairModeFence doc)
    val fenced = fencedQueries(sfDir, base, skip, only)
    val names = (base -- skip -- fenced).toSeq.sorted
    val times = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Set.empty[String]
    // SPARK_GRAFT_EMIT_SAMPLES=1 records EVERY sample, not just the min —
    // the input of the noise-floor study (tools/noise_floor.py): a
    // many-pass sweep's per-query spread is the measured scheduler/window
    // noise at that SF, which compare_bench's flagging floor should come
    // from rather than a hardcoded 0.5 s
    val emitSamples = sys.env.get("SPARK_GRAFT_EMIT_SAMPLES").contains("1")
    val samples =
      scala.collection.mutable.Map.empty[String, List[Double]]
    // resolve the ref-retry reference BEFORE the sweep: a typo'd path or
    // a driver-wrapped artifact must fail in the first seconds, not
    // after a multi-hour sweep has run and before its line is printed
    val refConfig = sys.env.get("SPARK_GRAFT_REF").map { refPath =>
      (refTimes(refPath),
        sys.env.getOrElse("SPARK_GRAFT_REF_FACTOR", "2.0").toDouble,
        refFloor(sfDir, Some(refPath)))
    }

    // per-sample JVM aging record, keyed (query -> samples in order):
    // emitted for retried queries only (the trips are where diagnosis
    // matters; all-query emission would double the line length the
    // artifacts already had to defend against)
    val jvmTrips =
      scala.collection.mutable.Map.empty[String, List[Map[String, Double]]]

    def sample(name: String): Unit = {
      // isolate samples: a query that persists intermediate state (e.g.
      // minhash signatures) must not hand later passes a cache hit that
      // understates its steady-state cost
      spark.catalog.clearCache()
      val j0 = jvmCounters()
      val t0 = System.nanoTime()
      try {
        runOnce(SparkEntry.queries(name)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        val j1 = jvmCounters()
        jvmTrips(name) = jvmTrips.getOrElse(name, Nil) :+ Map(
          "sec" -> dt,
          "gc_ms" -> (j1("gc_ms") - j0("gc_ms")),
          "gc_n" -> (j1("gc_n") - j0("gc_n")),
          "jit_ms" -> (j1("jit_ms") - j0("jit_ms")),
          "codecache_used_mb" -> j1("codecache_used_mb"))
        times(name) = math.min(times.getOrElse(name, Double.MaxValue), dt)
        if (emitSamples) samples(name) = samples.getOrElse(name, Nil) :+ dt
        failed -= name // a success anywhere outranks a transient failure
      } catch {
        case e: Throwable =>
          // a query with a valid measured time stays measured — one flaky
          // sample (steal-burst OOM, etc.) must not erase a real result
          if (!times.contains(name)) failed += name
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

    val calibPre = calibrate(spark, sfDir)

    // 2-pass min-of-2 is the default at EVERY scale: r14's single-pass
    // sf100 sweeps manufactured 8 phantom outliers (events_props_json
    // 578 s single-pass vs 24.4 s re-measured) that each cost a separate
    // re-measure artifact — the second pass is cheaper than that
    // round-trip. SPARK_GRAFT_PASSES=1 stays available for deliberate
    // cold-cost studies only.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // even passes run in REVERSE order: min-of-2 in one JVM cannot remove
    // a bias that correlates with sweep POSITION rather than with the
    // query — the r15 sf100 sweep measured its alphabetical tail (the
    // text_* family) 2-2.5× high in BOTH passes, at parity in a fresh
    // JVM. Reversing the even pass samples every query at two different
    // JVM ages, so position-correlated state (code-cache/GC/page-cache
    // pressure late in a long sweep) can inflate at most one of the two
    // samples the min keeps.
    for (pass_ <- 1 to passes;
         name <- if (pass_ % 2 == 0) names.reverse else names) {
      if (pass_ == 2 && name == names.last) { System.gc(); Thread.sleep(1000) }
      sample(name)
    }
    // outlier-retry: a query whose min is far above the pack's median was
    // likely hit by a steal burst in both passes — re-measure it (twice).
    // SPARK_GRAFT_NO_RETRY opts out for large-SF sweeps, where the heavy
    // tail (output-bound dedup pairs, the real-decode seam) is genuinely
    // minutes above the median and a retry only re-runs a real cost.
    val ok = names.filterNot(failed)
    val medianRetried =
      if (ok.size >= 4 && !sys.env.contains("SPARK_GRAFT_NO_RETRY")) {
        val sorted = ok.map(times).sorted
        val median = sorted(sorted.size / 2)
        val outliers = ok.filter(n => times(n) > math.max(5 * median, 5.0))
        for (n <- outliers) { sample(n); sample(n) }
        outliers
      } else Seq.empty[String]

    // reference-guided retry (r16): SPARK_GRAFT_REF names a previous
    // round's artifact at the SAME sf; any query whose min exceeds
    // SPARK_GRAFT_REF_FACTOR (default 2.0) × its reference time is
    // re-sampled twice and recorded under "ref_retried" — so an in-sweep
    // swing hit either self-corrects in-window or lands in the artifact
    // as a mechanically-annotated, twice-re-confirmed reading instead of
    // needing a hand-run fresh-JVM re-measure afterwards. Works at every
    // SF (unlike the median-retry, which SPARK_GRAFT_NO_RETRY disables
    // at large SF because the genuine heavy tail sits 5×+ over the
    // median — that tail is round-over-round STABLE, so it never trips
    // the reference test).
    val refRetried = refConfig.map { case (ref, factor, floor) =>
      val cands = refRetryCandidates(
        names.filterNot(failed).map(n => n -> times(n)).toMap,
        ref, factor, floor)
      for (n <- cands) { sample(n); sample(n) }
      cands
    }.getOrElse(Seq.empty)

    // automated fresh-JVM receipt (r18, VERDICT r17 item 3): opt-in via
    // SPARK_GRAFT_FRESH_JVM=1 (forking a second full session is too
    // expensive to be default-on at small SF). A ref-retried query whose
    // min STILL exceeds factor × reference after the two re-samples, and
    // whose re-samples ran with quiet JIT (< 1 s of compilation — active
    // compilation would explain the slowness without aging), matches the
    // r17-diagnosed C2-profile-pollution signature; its fresh-JVM number
    // lands in the artifact as "fresh_jvm" so the outlier closure that
    // took hand-run isolated re-measures in r16/r17 is mechanical.
    // a LOST receipt (fork failed / timed out / unparseable) records as
    // null in the artifact (r19, ADVICE r18) — a stays-slow query whose
    // isolation read is missing must be visible in the JSON the round
    // audit reads, not only on stderr
    val freshJvm: Map[String, Option[Double]] =
      if (!sys.env.get("SPARK_GRAFT_FRESH_JVM").contains("1")) Map.empty
      else refConfig.map { case (ref, factor, floor) =>
        val staysSlow = refRetried.filter { n =>
          !failed(n) && times(n) >= floor &&
            ref.get(n).exists(r => times(n) > factor * r) &&
            jvmTrips.get(n).exists(_.takeRight(2)
              .forall(_.getOrElse("jit_ms", 0.0) < 1000.0))
        }
        staysSlow.map(n => n -> freshJvmMeasure(n)).toMap
      }.getOrElse(Map.empty)

    val calibPost = calibrate(spark, sfDir)

    // "queries" stays numeric-only (downstream parsers expect seconds);
    // failed queries are omitted there and listed under "failed" instead.
    // Seconds print at 4dp: full double digits made the line long enough
    // that a tail-truncating log capture lost the head of the map (the
    // r5 artifact dropped its first ~9 queries); 0.1 ms resolution is
    // far below this host's noise floor anyway.
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma decimal separator (de_DE, fr_FR, ...) would make the JSON
    // unparseable
    def s4(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = names.filterNot(failed)
      .map(n => "\"" + n + "\":" + s4(times(n))).mkString("{", ",", "}")
    val total = names.filterNot(failed).map(times).sum
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // self-describing partial sweeps: a skipped query is a deliberate gap,
    // not a fast run — without this a SPARK_GRAFT_SKIP sweep's total is
    // indistinguishable from a full run except by missing keys
    val skippedJson = (SparkEntry.queries.keySet -- names).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibJson = {
      def block(m: Map[String, Double]) = m.toSeq.sorted
        .map { case (k, v) => "\"" + k + "\":" + s4(v) }.mkString("{", ",", "}")
      s"""{"pre":${block(calibPre)},"post":${block(calibPost)}}"""
    }
    val samplesJson =
      if (!emitSamples) ""
      else {
        val body = names.filter(samples.contains).map(n =>
          "\"" + n + "\":" + samples(n).map(s4).mkString("[", ",", "]"))
          .mkString("{", ",", "}")
        s""","samples":$body"""
      }
    val refRetriedJson =
      if (refRetried.isEmpty) ""
      else refRetried.map("\"" + _ + "\"")
        .mkString(""","ref_retried":[""", ",", "]")
    // the aging diagnosis (r17): for every query that tripped a retry,
    // ALL its samples with their GC/JIT/code-cache deltas — the slow
    // sample's counters name (or rule out) the in-JVM aging mechanism
    val tripNames = (medianRetried ++ refRetried).distinct.sorted
      .filter(jvmTrips.contains)
    val jvmTripsJson =
      if (tripNames.isEmpty) ""
      else {
        def rec(m: Map[String, Double]) = m.toSeq.sorted
          .map { case (k, v) => "\"" + k + "\":" + s4(v) }
          .mkString("{", ",", "}")
        val body = tripNames.map(n =>
          "\"" + n + "\":" + jvmTrips(n).map(rec).mkString("[", ",", "]"))
          .mkString("{", ",", "}")
        s""","jvm_trips":$body"""
      }
    val freshJvmJson =
      if (freshJvm.isEmpty) ""
      else freshJvm.toSeq.sortBy(_._1)
        .map { case (n, t) => "\"" + n + "\":" + t.map(s4).getOrElse("null") }
        .mkString(""","fresh_jvm":{""", ",", "}")
    val line =
      s"""{"metric":"total","value":${s4(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"skipped":$skippedJson$samplesJson$refRetriedJson$jvmTripsJson$freshJvmJson,"calibration":$calibJson,"sf":"$sfDir"}"""
    println(line)
    // belt-and-braces copy for log-capture truncation: the same line, as
    // a file next to the run; SPARK_GRAFT_OUT redirects it (the forked
    // fresh-JVM child writes to a private temp file this way)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_last.json")),
      line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

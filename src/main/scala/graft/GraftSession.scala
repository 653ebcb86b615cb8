package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults (SURVEY §4).
  *
  * AQE stays on (skew-join splitting + partition coalescing are the runtime
  * half of the scale design); shuffle partitions track the core count
  * locally — on a real cluster this is set to 2-3× total cores instead.
  */
object GraftSession {

  /** Drop every session-cached structure derived from the corpus at
    * `sfDir` (with or without a trailing `/`) — see [[SessionState]] for
    * the immutable-corpus contract this call is the escape hatch from. */
  def invalidateCorpus(sfDir: String): Unit = SessionState.invalidatePath(sfDir)

  def local(cores: Int): SparkSession = {
    // Shuffle sizing is adaptive-first: every shuffle STARTS at 3× cores
    // (initialPartitionNum below) and AQE coalesces small ones back to
    // core-count parallelism from measured stage sizes. The 3× start is
    // the classic 2-3×-total-cores cluster guidance made the default —
    // the sf100 stage probes showed why one-partition-per-core cannot be
    // the start: q3_join's 7.9 GB shuffle read over 32 partitions is
    // ~250 MB compressed per task and spilled 32 GB memory / 7.3 GB disk
    // with uniform task times (spill, not skew); the same join at 96
    // start partitions spills nothing (wall 56 → 38 s, q5/q9 alike,
    // bench/r12_spill_sf100.json). Small-SF queries do not pay for the
    // 3× start because coalescing (parallelismFirst, the default) merges
    // post-shuffle partitions down to core count. shuffle.partitions
    // remains the non-adaptive fallback floor at one-per-core;
    // SPARK_GRAFT_SHUFFLE_PARTITIONS pins BOTH knobs for A/B probes.
    val shufflePartitions = sys.env
      .getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString)
    val initialPartitions = sys.env
      .getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", (3 * cores).toString)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions)
      // Floor on scan parallelism for small-but-dense inputs. The dup-heavy
      // corpora compress ~100:1, so a CPU-heavy scan stage (featurize,
      // simhash, quality) can arrive as 1-2 byte-range splits and serialize
      // onto 2 cores while 30 idle. minPartitionNum lowers the split size to
      // totalBytes/2N for small inputs only — for large inputs the
      // 128 MB maxPartitionBytes cap wins and this is a no-op, so it is
      // safe to ship to a real cluster unchanged.
      .config("spark.sql.files.minPartitionNum", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // catalog metadata (the bucketed events table) goes to scratch, not
      // a ./spark-warehouse dir in the caller's working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Broadcast joins come ONLY from explicit hints (by-construction-
      // bounded sets, §6) or AQE's runtime conversion from MEASURED stage
      // sizes — never from compile-time estimates. Catalyst's static
      // sizeInBytes after an aggregate/explode chain is a guess, and a
      // guess that lands under the threshold plans a BroadcastHashJoin
      // that AQE cannot demote: the sf10 rehearsal measured exactly this
      // — dedup_embedding_lsh's candidate-verify join statically
      // broadcast the pair side from a <10 MB estimate that was >1 GiB
      // at execution (maxResultSize abort here; a driver OOM at 100 TB).
      // With the static threshold off, such joins start as shuffle joins
      // and AQE upgrades the genuinely-small ones per-stage from real
      // sizes (adaptive threshold kept at the 10 MB default, which would
      // otherwise inherit the -1).
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      // ObjectHashAggregate (the execution node behind TypedImperative
      // aggregates like TopKAgg and behind collect_list/collect_set)
      // abandons its hash map after 128 distinct groups PER TASK and
      // falls back to sorting every remaining INPUT ROW through an
      // UnsafeKVExternalSorter. The sf10 rehearsal hit the failure mode
      // this bakes in: dup-heavy intermediate tables compress to ~5
      // bytes/row, so a 128 MB byte-based split carries ~25M rows, and
      // knn_graph's per-source top-k — whose aggregation buffers are
      // O(k) BY CONSTRUCTION — shoved ~50M exploded edge rows into one
      // task's sorter until its pointer array needed a 1 GiB contiguous
      // allocation (SparkOutOfMemoryError under GC pressure). Every
      // object-agg in this engine has a bounded buffer (TopKAgg k-slot
      // heaps; collect groups capped by maxDf / maxBucket / fetchK /
      // weeks-per-user contracts), so holding ~500k of them in the hash
      // map is tens of MB — while the sort fallback's cost scales with
      // INPUT rows, not groups. Keep the fallback as the backstop for
      // true group-explosions, but move it out of the operating range.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 19).toString)
      // Shuffle WRITER selection (r19): below bypassMergeThreshold
      // (default 200) reduce partitions, every map task streams through
      // BypassMergeSortShuffleWriter — one file PER REDUCE PARTITION per
      // map task, M×R file creates per shuffle. With AQE's 3×-cores
      // initialPartitionNum that is ~9.2k file creates+opens for even a
      // kilobyte shuffle; thread dumps under the r19 baseline showed the
      // executor pool serialized in FileOutputStream.open0 — ~0.5 s of
      // run time PER MAP TASK on 100-row partitions (knn_graph's two
      // dominant stages: 52 s executorRunTime over 96 tasks moving 2 MB).
      // Forcing the sort-based writer (one data file + one index file per
      // map task, partition-id sort in memory) removes the quadratic
      // file-op term. Scale-neutral by construction: real clusters run
      // thousands of reduce partitions, past the 200 cutoff, so the
      // bypass path never engages there — this pins the same writer the
      // at-scale configuration already uses (its in-memory partition-id
      // sort is the cost, paid only while a shuffle's data is small
      // enough that the buffer never spills).
      // (env override SPARK_GRAFT_BYPASS_THRESHOLD exists for A/B probes
      // only — the default is the shipped configuration)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "2"))
      // AQE coalescing floor (r19, re-validated r20 with the sf10 A/B
      // the r19 log lacked): with parallelismFirst (default) AQE merges
      // post-shuffle partitions down to minPartitionSize (1 MB) — a
      // sub-MB shuffle collapses to ONE partition, serializing CPU-heavy
      // downstream work; the dup-heavy corpora keep unique-level
      // intermediate shuffles sub-MB at EVERY scale factor, so the floor
      // binds at sf10 exactly as at sf0.1. Measured both ways at sf10 on
      // warm page cache (bench/r20_sf10_16k_warm.json vs
      // r20_sf10_shipped.json): 16k is 1.14× geomean over the 1m
      // default (total 104.9 vs 119.0 s; events_asof 2.6×, text_langid
      // 1.9×, rag_text 1.75× — only q3/q9 prefer 1m, within their
      // page-cache swing). An earlier cold-cache control sweep
      // (r20_sf10_control.json, io calib 0.28 vs 0.08) suggested the
      // opposite and is superseded by the warm pair. Shuffles large
      // enough that partitions exceed the floor are untouched — at true
      // production volumes the knob stays inert and partitioning is
      // AQE-derived.
      // (env override SPARK_GRAFT_AQE_MIN_PARTITION exists for A/B
      // probes only — the default is the shipped configuration)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "16k"))
      // InferFiltersFromGenerate is excluded (r20): the rule synthesizes
      // a `size(generatorInput) > 0` pre-filter, INLINING the generator
      // input expression — for the ingest gates that input is the full
      // 128-perm MinHash / 128-plane LSH signing chain, so the inferred
      // predicate re-ran the gates' dominant compute a second time, and
      // filter pushdown parked it BELOW the width-pinning exchange in the
      // narrow collapse stage (measured: ~0.7-1.0 s of single-task CPU
      // per gate call at sf0.1; the r19 16 KB AQE floor was masking
      // exactly this stage by splitting it). Excluding the rule changes
      // no output — rows with empty generator arrays reach the Generate
      // and emit nothing — it only stops the optimizer from duplicating
      // arbitrarily expensive expressions into pre-filters.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

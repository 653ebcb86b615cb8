package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Plain `spark.read.parquet` — Catalyst then owns filter/projection
  * pushdown into the scan, which is what makes the full-corpus vector scan
  * viable at 100 TB: a kNN query reads only (id, embedding[, filter cols]).
  */
object Tables {
  /** Cached-schema parquet read — the one reader every non-streaming
    * parquet consumer in the engine goes through (r19). A schema-less
    * `spark.read.parquet` runs a one-task footer-inference JOB at frame
    * CONSTRUCTION time — measured ~70-250 ms through an action on this
    * host — and the engine constructs each base table and session-temp
    * signature table many times per query. So infer once per path (a
    * [[SessionState]] entry; store mutations append files of the
    * identical schema) and pass the schema explicitly ever after;
    * [[seedSchema]] lets writers register what they just wrote so even
    * the first read skips inference. On a real cluster the same call
    * skips a footer read against remote storage per query. */
  private[graft] def readCached(
      spark: SparkSession, path: String): DataFrame = {
    val sch = SessionState.getOrBuild(SessionState.key("schema", path))(
      spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Register the schema a writer just produced at `path` — the data was
    * written FROM this exact schema by this session, so its nullability
    * claims hold for the rows on disk and it is safe to read back with. */
  private[graft] def seedSchema(
      path: String, schema: org.apache.spark.sql.types.StructType): Unit =
    SessionState.put(SessionState.key("schema", path), schema)

  /** (total on-disk bytes, file count) of a parquet path (file or dir),
    * cached — the driver-side input probe [[spreadSmall]] keys on.
    * Resolved through the Hadoop FileSystem API (r20, ADVICE r19):
    * `java.io.File` reported (0 bytes, 1 file) for any non-local path
    * (hdfs://, s3a:// — the scratchDir contract explicitly supports
    * them), which made the spread guard fire on EVERY remote corpus
    * scan — an unconditional extra exchange at exactly the scale the
    * 64 MB cutoff exists to avoid. Any listing failure (permissions, a
    * reaped temp dir, an unregistered scheme) degrades to the
    * "large input" sentinel, i.e. no spread — the behavior-preserving
    * default — instead of an NPE killing the query. */
  private def pathStats(spark: SparkSession, path: String): (Long, Int) =
    SessionState.getOrBuild(SessionState.key("pathstats", path)) {
      try {
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.getFileStatus(hp)
        val files =
          if (st.isDirectory)
            fs.listStatus(hp).filter(s =>
              s.isFile && s.getPath.getName.endsWith(".parquet"))
          else Array(st)
        (files.map(_.getLen).sum, files.length)
      } catch {
        case scala.util.control.NonFatal(_) => (Long.MaxValue, Int.MaxValue)
      }
    }

  /** Spread a SMALL dense scan across the cluster before CPU-heavy
    * per-row work (r19). The dup-heavy corpora compress ~100:1, so a
    * CPU-bound expression over a sub-row-group-sized table serializes
    * onto one core while the rest idle — parquet cannot split below a
    * row group, so `minPartitionNum` alone cannot help (every base table
    * and session-temp signature table at bench scale is ONE row group).
    * The guide's remedy for unsplittable small inputs is a repartition
    * immediately after the read; this applies it ONLY when the path's
    * on-disk bytes (driver-side listing, cached) sit under
    * `spark.graft.denseScan.maxBytes` (default 64 MB — the one-to-few-
    * split regime). Larger inputs pass through untouched: their scans
    * already split into ≥ core-count tasks at maxPartitionBytes, so at
    * production scale this is a cached `File.length` sum and nothing
    * else. Derives the decision from measured input size, never from a
    * constant tuned to either environment. */
  private[graft] def spreadSmall(
      spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val maxBytes = spark.conf
      .getOption("spark.graft.denseScan.maxBytes").map(_.toLong)
      .getOrElse(64L << 20)
    val p = spark.sparkContext.defaultParallelism
    val (bytes, files) = pathStats(spark, path)
    // a multi-file path is already scan-parallel (parquet assigns ≥ one
    // task per file) — the repartition would be a pure extra exchange
    // there (measured +27% on the sf10 replica's 400-file documents dir)
    if (bytes < maxBytes && files < p / 2)
      df.repartition(p)
    else df
  }

  /** Opt-in storage-aligned layout redirect (r16, VERDICT r15 item 3):
    * when the session conf `spark.graft.bucketed.db` names a catalog
    * database, any table registered there SHADOWS its parquet file —
    * tables not registered fall through unchanged. The intended use is
    * fact tables written `bucketBy(N, joinKey).sortBy(joinKey)` once
    * (lineitem/orders on the order key): every fact-to-fact join and
    * orderkey-keyed aggregate over them then consumes the layout with NO
    * exchange on the bucketed key, which at 100 TB converts the
    * engine's largest shuffles into storage-aligned local work.
    * Unset (the default everywhere), this is a pure parquet read and
    * Catalyst owns pushdown exactly as before. graft.tools.LayoutBench
    * builds the replica and A/Bs the join family both ways. */
  /** Whether `name` is currently shadowed by the bucketed-catalog
    * redirect below — spread callers check this before probing the
    * parquet path ([[spreadSmall]] keys on on-disk bytes, which say
    * nothing about a catalog table's layout; r20, ADVICE r19). */
  private[graft] def isRedirected(spark: SparkSession, name: String): Boolean =
    spark.conf.getOption("spark.graft.bucketed.db")
      .filter(_.nonEmpty)
      .exists(db => spark.catalog.tableExists(s"$db.$name"))

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val redirected = spark.conf.getOption("spark.graft.bucketed.db")
      .filter(_.nonEmpty)
      .filter(db => spark.catalog.tableExists(s"$db.$name"))
      .map(db => spark.table(s"$db.$name"))
    redirected.getOrElse(readCached(spark, s"$sfDir/$name.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.parquet` has shipped `ts` in two physical layouts across
    * driver generations: TIMESTAMP(NANOS) — which Spark's parquet reader
    * rejects, so it's read as a nanos long (legacy knob) and converted via
    * integer division to micros (exact, no double rounding) — and, since
    * the round-9 regeneration, plain TIMESTAMP(MICROS), which lands as
    * TIMESTAMP_NTZ. Sniff the landed type so both layouts read, and
    * normalize to the TIMESTAMP_LTZ every consumer (unix_micros, the
    * streaming Timestamp encoders) expects — value-identical to the NTZ
    * wall time because every entry point pins the session timezone to
    * UTC, matching the DuckDB oracle's naive read. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) read as nanos-long under the legacy knob — the
      // only way a Long lands here, since no generation ships a plain
      // int64 ts; an exact integer conversion, no double rounding
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        // the NTZ→LTZ cast interprets the wall time in the SESSION
        // timezone — value-identical to the naive reading only under
        // UTC. Every graft entry point pins UTC, but a library caller
        // building their own session might not: fail loudly like the
        // unknown-layout branch below, never shift wall times silently.
        val tz = s.conf.get("spark.sql.session.timeZone")
        if (tz != "UTC") throw new IllegalStateException(
          s"events.ts is TIMESTAMP_NTZ: reading it requires " +
            s"spark.sql.session.timeZone=UTC (got '$tz') — " +
            "see GraftSession for the pinned session configuration")
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case TimestampType => raw
      // anything else is a layout this reader has never seen: fail loudly
      // instead of casting into silent nulls or misscaled timestamps
      case other => throw new IllegalStateException(
        s"events.ts landed as unexpected type $other in $d")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

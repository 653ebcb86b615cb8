package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.operators.{TextStore, VectorIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Forced-branch oracle verification (r18, VERDICT r17 item 1) — the
  * CapVerify pattern applied to every store-serving conditional that no
  * graded configuration fires. The graded `*_ivf`/`*_lsh`/store queries
  * all run against FRESH stores with no append delta, so three whole
  * serving branches had green gates without ever executing under them:
  *
  *   1. multi-generation resolution (`VectorIndex.storeRead`'s delta
  *      overlay for probes and `getByIds`, its `max_by(gen)` fold for
  *      whole-store reads) — engaged only after appends;
  *   2. the merge-on-read delta (a non-empty delta listing → base scan
  *      without the delta's ids ∪ the delta's newest rows, with the
  *      partition id as a DATA column on the delta side — for the LSH
  *      store this is also the grouped-dir layout's row-group pruning
  *      composed with delta rows and metadata filters);
  *   3. recovery mid-states (roll-back and roll-forward shapes of an
  *      interrupted compaction swap) composed with searches.
  *
  * The forcing trick: CONTENT-PRESERVING churn. Every live row is
  * tombstoned and re-appended byte-identically (same label, metadata,
  * embedding; sticky placement keeps its partition; PQ codes recompute
  * from the same codebook), in chunks so each chunk is its own
  * generation pair. The store's LOGICAL content is unchanged — so every
  * graded query must still hash-match its UNCHANGED DuckDB oracle — but
  * physically every result row now resolves through gen folding over
  * base + delta. Four phases, each dumped Verify-style for
  * tools/check_oracle.py:
  *
  *   delta/        churned stores (branches 1+2 live on every row)
  *   recover_back/ after recoverStore discards a manufactured
  *                 staged-but-unswapped compaction (roll-back) — on
  *                 BOTH layouts since r19, staged PQ codebooks included
  *   recover_fwd/  after recoverStore finishes a manufactured
  *                 mid-swap crash, vectors renamed aside and a staged
  *                 layout + staged model left behind (roll-forward)
  *   compacted/    after real compaction folds the churn away
  *                 (no delta left: the base scan alone — the loop
  *                 closes)
  *
  * Run: BranchVerify <sfDir> <outDir> [churnChunk] (default 2000 ids per
  * generation pair; env: SPARK_GRAFT_CPUS), then
  * `python3 tools/check_oracle.py <sfDir> <outDir>/<phase>` per phase.
  * The tool prints one JSON line with the forced-state evidence (delta
  * file counts, generation counts, tombstone counts) so the artifact
  * shows the branches were actually ENGAGED, not just re-run. */
object BranchVerify {

  /** Graded queries that read the corpus-keyed IVF store
    * (store_health since r19, ADVICE r18: its health probes read the
    * store through the same gen-fold/delta-union branches — churn is
    * content-preserving, so the unchanged oracle still rules). */
  private val ivfQueries = Seq(
    "ivf_search", "knn_filtered_ivf", "knn_filtered_ivf_json",
    "knn_threshold_ivf", "knn_mmr_ivf", "knn_batch_ivf", "ann_eval",
    "knn_ivf_pq", "knn_batch_ivf_pq", "ann_eval_ivf_pq", "hybrid_rrf_ivf",
    "store_get", "store_health")

  /** Graded queries that read the corpus-keyed LSH store (grouped-dir
    * layout: bucket pruning via row-group stats inside 16 dirs). */
  private val lshQueries = Seq(
    "lsh_search", "lsh_filtered_json", "knn_threshold_lsh", "knn_mmr_lsh",
    "knn_batch_lsh", "ann_eval_lsh")

  /** Graded queries that read the text-ingestion chunk store (same CRUD
    * surface, vectors produced by chunk+featurize instead of the
    * embeddings table). */
  private val chunkQueries = Seq("chunk_search_ivf")

  private def allQueries = ivfQueries ++ lshQueries ++ chunkQueries

  /** Tombstone and byte-identically re-append every live row of a fresh
    * delta-less store, in chunks of `chunk` ids — each chunk a
    * (delete, append) generation pair. Smaller chunks make deeper
    * generation stacks and more delta files per probe (a harder
    * resolution state). Content-preserving by construction; returns the
    * number of generations written. */
  private[graft] def churn(
      spark: SparkSession, path: String, chunk: Int = 2000): Long = {
    val live = spark.read.parquet(s"$path/vectors")
      .where(!col("deleted"))
      .select(col("vec_id"), col("label"), col("embedding"), col("metadata"))
    val ids = live.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    var gen = 0L
    ids.grouped(chunk).foreach { part =>
      val idSet = part.toSeq
      VectorIndex.deleteFromStore(spark, path, idSet, gen + 1)
      VectorIndex.appendStore(spark, path,
        live.where(col("vec_id").isin(idSet: _*)), gen + 2)
      gen += 2
    }
    gen
  }

  /** Verify-style dump of the named graded queries plus their UNCHANGED
    * oracle SQL — logical content is preserved, so the original oracles
    * are the branch-aware oracles. */
  private def dump(
      spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val ordered = SparkEntry.hashOrder.get(name)
        .map(cols => df.orderBy(cols.map(df.col): _*))
        .getOrElse(df)
      ordered.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }

  private def hadoopFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val f = hadoopFs(spark, src)
    org.apache.hadoop.fs.FileUtil.copy(
      f, new org.apache.hadoop.fs.Path(src),
      f, new org.apache.hadoop.fs.Path(dst),
      false, spark.sparkContext.hadoopConfiguration): Unit
  }

  private def renameDir(spark: SparkSession, src: String, dst: String): Unit = {
    val f = hadoopFs(spark, src)
    if (!f.rename(new org.apache.hadoop.fs.Path(src),
        new org.apache.hadoop.fs.Path(dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Forced-state evidence for one store: delta present, file,
    * generation and tombstone counts. */
  private def evidence(spark: SparkSession, path: String): String = {
    val files = Option(hadoopFs(spark, path).globStatus(
      new org.apache.hadoop.fs.Path(s"$path/vectors_delta/*.parquet")))
      .fold(0)(_.length)
    val (gens, tombs) =
      if (files > 0) {
        val r = spark.read.parquet(s"$path/vectors_delta")
          .agg(countDistinct(col("gen")),
            sum(when(col("deleted"), 1L).otherwise(0L))).collect().head
        (r.getLong(0), r.getLong(1))
      } else (0L, 0L)
    s"""{"delta":${files > 0},"delta_files":$files,"delta_gens":$gens""" +
      s""","tombstones":$tombs}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BranchVerify <sfDir> <outDir> [churnChunk]")
    val (sfDir, outDir) = (args(0), args(1))
    val chunk = if (args.length > 2) args(2).toInt else 2000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.local(cpus)

    // fresh stores (the graded configuration), then content-preserving
    // churn into the never-graded physical state
    val ivfPath = VectorIndex.ensureStore(spark, sfDir)
    val lshPath = VectorIndex.ensureStore(spark, sfDir, VectorIndex.LshLayout)
    val chunkPath = TextStore.ensureChunkStore(spark, sfDir)
    val gensIvf = churn(spark, ivfPath, chunk)
    val gensLsh = churn(spark, lshPath, chunk)
    val gensChunk = churn(spark, chunkPath, chunk)
    val evDelta = Seq("ivf" -> ivfPath, "lsh" -> lshPath,
      "chunk" -> chunkPath)
      .map { case (n, p) => s""""$n":${evidence(spark, p)}""" }
      .mkString("{", ",", "}")
    dump(spark, sfDir, s"$outDir/delta", allQueries)

    // recovery roll-BACK shape: a compaction staged its rewrite (and
    // retrain models — centroids AND, since r19, PQ codebooks) but never
    // began the swap — recovery must discard all staging and leave the
    // churned store serving identically. Manufactured on BOTH layouts
    // (r19, VERDICT r18 item 5: the LSH grouped-dir layout's staged-model
    // discard was only covered by roll-forward before).
    copyDir(spark, s"$ivfPath/vectors", s"$ivfPath/vectors_compact")
    copyDir(spark, s"$ivfPath/centroids", s"$ivfPath/centroids_retrain")
    copyDir(spark, s"$ivfPath/pq", s"$ivfPath/pq_retrain")
    VectorIndex.recoverStore(spark, ivfPath)
    copyDir(spark, s"$lshPath/vectors", s"$lshPath/vectors_compact")
    copyDir(spark, s"$lshPath/planes", s"$lshPath/planes_retrain")
    VectorIndex.recoverStore(spark, lshPath)
    dump(spark, sfDir, s"$outDir/recover_back", ivfQueries ++ lshQueries)

    // recovery roll-FORWARD shape: the staged layout was complete and the
    // swap had begun (vectors renamed aside) when the writer died —
    // recovery finishes the swap, including the staged model. The staged
    // copies are byte-identical to the live state, so content is
    // unchanged and the original oracles still rule. Manufactured on the
    // LSH store too (planes_retrain): recovery's model-dir loop and the
    // grouped-dir layout's swap both finish under it.
    copyDir(spark, s"$ivfPath/vectors", s"$ivfPath/vectors_compact")
    copyDir(spark, s"$ivfPath/centroids", s"$ivfPath/centroids_retrain")
    copyDir(spark, s"$ivfPath/pq", s"$ivfPath/pq_retrain")
    renameDir(spark, s"$ivfPath/vectors", s"$ivfPath/vectors_old")
    VectorIndex.recoverStore(spark, ivfPath)
    copyDir(spark, s"$lshPath/vectors", s"$lshPath/vectors_compact")
    copyDir(spark, s"$lshPath/planes", s"$lshPath/planes_retrain")
    renameDir(spark, s"$lshPath/vectors", s"$lshPath/vectors_old")
    VectorIndex.recoverStore(spark, lshPath)
    dump(spark, sfDir, s"$outDir/recover_fwd", ivfQueries ++ lshQueries)

    // real compaction folds the churn away: no delta, the base scan alone
    Seq(ivfPath, lshPath, chunkPath).foreach(VectorIndex.compactStore(spark, _))
    val evCompact = Seq("ivf" -> ivfPath, "lsh" -> lshPath,
      "chunk" -> chunkPath)
      .map { case (n, p) => s""""$n":${evidence(spark, p)}""" }
      .mkString("{", ",", "}")
    dump(spark, sfDir, s"$outDir/compacted", allQueries)

    println(
      s"""{"metric":"branch_verify","sf":"$sfDir","out":"$outDir"""" +
        s""","churn_gens":{"ivf":$gensIvf,"lsh":$gensLsh,"chunk":$gensChunk}""" +
        s""","delta_state":$evDelta,"compacted_state":$evCompact""" +
        s""","queries":${allQueries.size}}""")
    spark.stop()
  }
}

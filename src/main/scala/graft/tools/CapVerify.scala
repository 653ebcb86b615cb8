package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Cap-engaged oracle verification (r17, VERDICT r16 item 1): the graded
  * dedup family caps degenerate buckets (minhash maxDf, sign-LSH
  * maxBucket — w-weighted Σ-copy-count dead sets, alive-mask band
  * ownership), but at every scale the oracle gate has run, the dead sets
  * collect EMPTY — the capped code paths were spec-pinned at toy scale
  * yet never hash-compared against DuckDB with a live cap. This tool
  * closes that: it re-runs the cap-carrying graded queries with a LOW
  * cap (default 2) at a real scale and dumps them next to oracle SQL
  * whose cap literal is lowered identically, for tools/check_oracle.py.
  *
  * At sf0.1 with cap 2 the machinery is measurably live (DuckDB census,
  * r17): 293 of the minhash band buckets are over-cap, and 197 of those
  * are WEIGHT-SENSITIVE — ≤2 unique texts but Σw ≥ 3 copies — so they
  * die only under the w-weighted count. A hash match here separates
  * "weighted Σw" from "unweighted unique count" semantics mechanically:
  * an unweighted Spark side would keep those 197 buckets, emit their
  * pairs, and mismatch.
  *
  * Usage: CapVerify <sfDir> <outDir> [cap]   (default cap 2; env:
  * SPARK_GRAFT_CPUS), then
  * `python3 tools/check_oracle.py <sfDir> <outDir>`. */
object CapVerify {

  /** Lower the oracle's cap literal; FAILS if the SQL carries no cap —
    * a query silently verified uncapped would defeat the tool's point. */
  private def lowCap(name: String, cap: Int): String = {
    val sql = SparkEntry.oracleSql(name)
    val out = sql
      .replace("BETWEEN 2 AND 1000", s"BETWEEN 2 AND $cap")
      .replace("HAVING count(*) <= 1000", s"HAVING count(*) <= $cap")
    require(out != sql, s"$name: oracle SQL carries no recognizable cap " +
      "literal — fix the oracle (or this tool) before trusting the run")
    out
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CapVerify <sfDir> <outDir> [cap]")
    val (sfDir, outDir) = (args(0), args(1))
    val cap = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()

    // the graded gate slices, replicated verbatim from SparkEntry
    def incomingDocs = graft.Tables.documents(spark, sfDir)
      .where(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    def incomingVecs = graft.Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))

    val cases: Seq[(String, String, () => DataFrame)] = Seq(
      ("dedup_minhash_lsh_cap", "dedup_minhash_lsh",
        () => Dedup.minhashLsh(spark, sfDir, maxDf = cap)),
      ("dedup_minhash_lsh_repr_cap", "dedup_minhash_lsh_repr",
        () => Dedup.minhashLshRepr(spark, sfDir, maxDf = cap)),
      ("corpus_neardup_gate_cap", "corpus_neardup_gate",
        () => Dedup.nearDupGate(incomingDocs, spark, sfDir, maxDf = cap)),
      ("corpus_neardup_gate_repr_cap", "corpus_neardup_gate_repr",
        () => Dedup.nearDupGateRepr(incomingDocs, spark, sfDir, maxDf = cap)),
      ("dedup_ngram_jaccard_cap", "dedup_ngram_jaccard",
        () => Dedup.ngramJaccard(spark, sfDir, maxDf = cap)),
      ("dedup_embedding_lsh_cap", "dedup_embedding_lsh",
        () => Dedup.embeddingNearDupLsh(spark, sfDir, maxBucket = cap)),
      ("dedup_embedding_lsh_repr_cap", "dedup_embedding_lsh_repr",
        () => Dedup.embeddingNearDupLshRepr(spark, sfDir, maxBucket = cap)),
      ("corpus_embedding_gate_cap", "corpus_embedding_gate",
        () => Dedup.embeddingNearDupGate(incomingVecs, spark, sfDir,
          maxBucket = cap)),
      ("corpus_embedding_gate_repr_cap", "corpus_embedding_gate_repr",
        () => Dedup.embeddingNearDupGateRepr(incomingVecs, spark, sfDir,
          maxBucket = cap)),
      ("knn_graph_cap", "knn_graph",
        () => Dedup.knnGraph(spark, sfDir, maxBucket = cap)))

    // INVARIANCE cases: simhash's maxBucket is a blocked self-join split
    // (every pair still meets exactly once — capping loses nothing), so
    // the capped Spark run must byte-match the UNCAPPED oracle. The
    // oracle SQL deliberately carries no cap literal here; the low cap
    // forces the sub-bucket replication path (s = ceil(df/maxBucket)
    // id-hash sub-buckets, upper-triangle grid) that default-cap grading
    // never executes.
    val invariantCases: Seq[(String, String, () => DataFrame)] = Seq(
      ("dedup_simhash_capinv", "dedup_simhash",
        () => Dedup.simhash(spark, sfDir, maxBucket = cap)),
      ("dedup_simhash_repr_capinv", "dedup_simhash_repr",
        () => Dedup.simhashRepr(spark, sfDir, maxBucket = cap)))

    // resolve EVERY oracle SQL before the first Spark job: a missing cap
    // literal in the last case must abort at startup, not hours in
    val resolved: Seq[(String, String, () => DataFrame)] =
      cases.map { case (name, oracleKey, fn) =>
        (name, lowCap(oracleKey, cap), fn)
      } ++ invariantCases.map { case (name, oracleKey, fn) =>
        (name, SparkEntry.oracleSql(oracleKey), fn)
      }
    var failed = 0
    val sqls = resolved.map { case (name, sql, fn) =>
      try fn().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[capverify] $name failed: ${e.getMessage}")
      }
      name -> sql
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      sqls.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    println(s"""{"metric":"cap_verify","cap":$cap,""" +
      s""""cases":${cases.size + invariantCases.size},""" +
      s""""failed":$failed,"sf":"$sfDir","out":"$outDir"}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

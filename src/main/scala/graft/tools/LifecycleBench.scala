package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.{KnnSearch, VectorIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store-mutation lifecycle bench (VERDICT r3 item 8): times the build →
  * append×3 → merge-on-read search → tombstone delete → compact →
  * compacted search path for BOTH store layouts, so the merge-on-read
  * overhead and the compaction payoff are measured, not just asserted.
  * Also times retrain-on-compact on the drifted IVF store. Prints one
  * JSON line, same shape discipline as [[graft.Bench]].
  *
  * Measurement discipline (r16, VERDICT r15 item 5): the whole lifecycle
  * runs TWICE against fresh stores, min per phase — the same min-of-2
  * the query sweeps use, which single-sample phases lacked (the r15
  * artifacts' own post cpu_st showed 1.23× end-of-run elevation).
  * Phases are stateful (build precedes append precedes compact), so the
  * even pass can't literally reverse phase order; it reverses the LAYOUT
  * block order instead (lsh before ivf), which is the position-correlated
  * state the sweep actually has — each layout's block samples at two
  * different JVM ages. SPARK_GRAFT_PASSES=1 opts out. */
object LifecycleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = GraftSession.local(cpus)
    val calibPre = graft.Bench.calibrate(spark, sfDir)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    // micro-batches: 500 new ids per generation, embeddings reused from
    // the corpus so placement work is realistic. Deterministic id range
    // (NOT an unordered limit) — the delete phase below targets ids
    // 1000001..1000050, which must actually exist in the gen-1 batch or
    // the tombstone timings would silently measure no-ops.
    def batch(idOffset: Long): DataFrame = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 500)
      .select((col("vec_id") + idOffset).as("vec_id"), col("label"),
        col("embedding"))

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    /** One full lifecycle over fresh stores; returns phase → seconds. */
    def onePass(reverseLayouts: Boolean): Map[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def timed[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        out(name) = (System.nanoTime() - t0) / 1e9
        r
      }

      def search(path: String, nprobe: Int): Unit =
        noop(VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = nprobe))

      /** The lifecycle on a fresh store of `layout`, searched at the
        * layout's graded probe count. */
      def run(tag: String, layout: VectorIndex.StoreLayout, nprobe: Int): String = {
        val path = java.nio.file.Files
          .createTempDirectory(s"graft_lc_${tag}_").toString
        timed(s"${tag}_build")(
          VectorIndex.writeStore(spark, sfDir, path, layout = layout))
        timed(s"${tag}_search_fresh")(search(path, nprobe))
        for (g <- 1 to 3)
          timed(s"${tag}_append_g$g")(
            VectorIndex.appendStore(spark, path, batch(1000000L * g), g.toLong))
        timed(s"${tag}_search_merged")(search(path, nprobe))
        timed(s"${tag}_delete")(VectorIndex.deleteFromStore(spark, path,
          (1000001L to 1000050L).toSeq, 4L))
        timed(s"${tag}_search_tombstoned")(search(path, nprobe))
        timed(s"${tag}_compact")(VectorIndex.compactStore(spark, path))
        timed(s"${tag}_search_compacted")(search(path, nprobe))
        path
      }

      def ivfBlock(): Unit = {
        val ivfPath = run("ivf", VectorIndex.IvfLayout, nprobe = 4)
        // the ADC path against the same compacted store (codes column
        // maintained through the append/delete/compact cycle above)
        timed("ivf_pq_search_compacted")(
          noop(VectorIndex.ivfPqSearchStoreAt(spark, ivfPath, qv, k = 10)))
        // retrain-on-compact on a drifted store: one far-away appended
        // cluster
        VectorIndex.appendStore(spark, ivfPath,
          Tables.embeddings(spark, sfDir)
            .select((col("vec_id") + 5000000L).as("vec_id"), col("label"),
              expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))")
                .as("embedding")),
          gen = 5L)
        timed("ivf_compact_retrain")(
          VectorIndex.compactStore(spark, ivfPath, retrain = true))
        timed("ivf_search_retrained")(search(ivfPath, nprobe = 4))
      }

      def lshBlock(): Unit = {
        run("lsh", VectorIndex.LshLayout, VectorIndex.LshProbes): Unit
      }

      if (reverseLayouts) { lshBlock(); ivfBlock() }
      else { ivfBlock(); lshBlock() }
      out.toMap
    }

    val passResults = (1 to passes).map(p => onePass(reverseLayouts = p % 2 == 0))
    // min per phase across passes; key order from a canonical sort so the
    // artifact is stable whatever the block order of the last pass
    val phaseNames = passResults.head.keySet.toSeq.sorted
    val out = phaseNames.map(n =>
      n -> passResults.map(_.getOrElse(n, Double.MaxValue)).min)

    val calibPost = graft.Bench.calibrate(spark, sfDir)
    def fmtCal(m: Map[String, Double]): String =
      m.toSeq.sorted.map { case (k, v) =>
        String.format(java.util.Locale.ROOT, "\"%s\":%.4f", k, Double.box(v))
      }.mkString("{", ",", "}")
    val phases = out.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = out.map(_._2).sum
    println(s"""{"metric":"lifecycle","value":$total,"unit":"sec","passes":$passes,"phases":$phases,"calibration":{"pre":${fmtCal(calibPre)},"post":${fmtCal(calibPost)}},"sf":"$sfDir"}""")
    spark.stop()
  }
}

package graft

import graft.operators.{TextStore, VectorIndex}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Store bytes are a function of the stored rows: every base and delta
  * file holds its rows ascending in (partition id, vec_id), however the
  * input frame happened to be partitioned and ordered. */
class StoreFileOrderSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[Path] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_temporary"))
      .toSeq.sortBy(_.toString)

  /** `root` as basePath: a directory-encoded partition id reads back as
    * a column of the one file. */
  private def assertSorted(root: String, file: Path, partCol: String): Unit = {
    val rows = spark.read.option("basePath", root).parquet(file.toString)
      .select(col(partCol).cast("long"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty, s"empty store file $file")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(Ordering[(Long, Long)].lteq(a, b), s"$file: $a before $b")
      case _ =>
    }
  }

  Seq(VectorIndex.IvfLayout -> "centroid_id", VectorIndex.LshLayout -> "bucket")
    .foreach { case (layout, partCol) =>
      test(s"base and delta files are ascending in ($partCol, vec_id) from shuffled input") {
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"), col("lang"))
        val path = Files.createTempDirectory("store_file_order").toString
        VectorIndex.writeVectorStore(spark,
          TextStore.chunkVectors(docs.where(col("doc_id") % 5 =!= 0))
            .orderBy(rand(11)),
          path, layout)
        // the batch updates stored ids and adds new ones, in random order
        VectorIndex.appendStore(spark, path,
          TextStore.chunkVectors(docs.where(col("doc_id") % 5 <= 1))
            .orderBy(rand(12)),
          gen = 1L)
        val base = parquetFiles(s"$path/vectors")
        val delta = parquetFiles(s"$path/vectors_delta")
        assert(base.nonEmpty && delta.size == 1)
        base.foreach(assertSorted(s"$path/vectors", _, partCol))
        delta.foreach(assertSorted(s"$path/vectors_delta", _, partCol))
      }
    }
}

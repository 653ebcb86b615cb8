package graft

import graft.functions.{HashingFeaturize, Mersenne61, TextFunctions, TextOps}
import graft.operators.TextStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

/** The hashed-text featurizer has one kernel behind three callers: the
  * corpus-side expressions ([[TextStore.chunkVectors]]), the driver-side
  * query featurizer ([[TextStore.featurizeText]]) and the default
  * embedder ([[TextStore.hashingEmbedder]]). All three must give the
  * same bits for any text, including the case mappings that turn a
  * non-ASCII letter into an ASCII one, and the kernel must equal the
  * tokenize → hash → accumulate chain it stands for. */
class FeaturizerParitySpec extends SparkSpec {

  import spark.implicits._

  /** Two words whose hashes share a bucket with opposite signs: their
    * weights cancel to a zero vector. */
  private lazy val cancelling: String = {
    val dim = TextStore.Dim
    def h(t: String) = Mersenne61.polyHash(UTF8String.fromString(t))
    val words = for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"$a$b"
    val pairs = for {
      x <- words.iterator; y <- words.iterator
      if h(x) % dim == h(y) % dim && ((h(x) / dim) & 1L) != ((h(y) / dim) & 1L)
    } yield s"$x $y"
    pairs.next()
  }

  // each fits one chunk window, so chunkVectors yields one row per text;
  // U+212A (KELVIN SIGN) lowercases to an ASCII k, U+0130 (capital I
  // with dot) to an ASCII i plus a combining dot
  private val texts = Seq(
    "The Quick BROWN Fox jumps over 42 LAZY dogs in 2024",
    "Kelvin: the KELVIN SIGN lowercases to an ascii k",
    "İstanbul and İZMİR start with a dotted capital I",
    "Grüße aus München, Ärger über Öl und Käse",
    "向量搜索 vector search 数据 engine 7")
  private val degenerate = Seq("", "!!! — ???", cancelling)

  private def bits(v: Array[Float]): Seq[Int] =
    v.toSeq.map(java.lang.Float.floatToRawIntBits)

  private def viaColumns(ts: Seq[String]): Map[Long, Seq[Int]] =
    TextStore.chunkVectors(
        ts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
          .toDF("doc_id", "text", "lang"))
      .collect()
      .map(r => (r.getLong(0) >> TextStore.ChunkIdBits) ->
        bits(r.getSeq[Float](2).toArray))
      .toMap

  test("featurizeText, the default embedder and chunkVectors give identical bits") {
    val cols = viaColumns(texts)
    val embedded = TextStore.hashingEmbedder()(texts.toArray)
    texts.zipWithIndex.foreach { case (t, i) =>
      val q = bits(TextStore.featurizeText(spark, t))
      assert(cols.get(i.toLong).contains(q), s"query vs corpus side for: $t")
      assert(bits(embedded(i)) == q, s"query vs embedder for: $t")
    }
  }

  test("zero-signal texts: featurizeText rejects, the embedder returns null, chunkVectors drops") {
    assert(viaColumns(degenerate).isEmpty)
    val embedded = TextStore.hashingEmbedder()(degenerate.toArray)
    degenerate.zip(embedded).foreach { case (t, v) =>
      assert(v == null, s"embedder vector for zero-signal text '$t'")
      intercept[IllegalArgumentException](TextStore.featurizeText(spark, t))
    }
  }

  test("the kernel equals lower → words → poly_fingerprint → hashing_featurize, in both case-mapping modes") {
    def slots(ws: Seq[Row]): Seq[(Long, Long)] = ws.map(s => (s.getLong(0), s.getLong(1)))
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.get(key)
    try {
      Seq(true, false).foreach { icu =>
        spark.conf.set(key, icu.toString)
        val chain = Bridge.col(HashingFeaturize(Bridge.expr(
          transform(TextFunctions.words(col("t")), TextFunctions.polyFingerprint(_))),
          TextStore.Dim))
        (texts ++ degenerate).toDF("t")
          .select(col("t"), chain,
            TextFunctions.hashedWeights(col("t"), TextStore.Dim))
          .collect().foreach { r =>
            val t = r.getString(0)
            val expected = slots(r.getSeq[Row](1))
            assert(slots(r.getSeq[Row](2)) == expected, s"icu=$icu, expression, '$t'")
            val ws = TextOps.hashedWeights(UTF8String.fromString(t), TextStore.Dim, icu)
            val direct = (0 until ws.numElements()).map { i =>
              val s = ws.getStruct(i, 2)
              (s.getLong(0), s.getLong(1))
            }
            assert(direct == expected, s"icu=$icu, direct call, '$t'")
          }
      }
    } finally spark.conf.set(key, before)
  }

  test("featurizeText runs no query execution") {
    @volatile var seen = Vector.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen :+= qe.logical.toString
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen :+= qe.logical.toString
    }
    spark.listenerManager.register(listener)
    try {
      texts.foreach(TextStore.featurizeText(spark, _))
      // listener events arrive asynchronously: a fence query marks the
      // point after which every earlier execution has been reported
      spark.range(0, 7919).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def fenced = seen.exists(_.contains("7919"))
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(20)
      assert(fenced, "fence query was never reported")
      assert(seen.filterNot(_.contains("7919")).isEmpty,
        s"featurizeText ran query executions: $seen")
    } finally spark.listenerManager.unregister(listener)
  }
}

package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

final case class Doc(id: Long, text: String, lang: String)

/** The seeded benchmark corpus: a `documents` table and an `embeddings`
  * table written as parquet in the layout graft's `Tables` loaders read,
  * shaped like the sf0.1 test corpus (see `generate`). The same seed gives
  * byte-identical inputs; graft sees only the written tables and the request
  * inputs drawn from them.
  *
  * The benchmark keeps both tables in memory: they are the ground truth the
  * correctness checks score responses against.
  */
final case class Corpus(dir: String, docs: Array[Doc], vecs: Array[Array[Float]]) {
  lazy val docById: Map[Long, Doc] = docs.iterator.map(d => d.id -> d).toMap
}

object Corpus {
  // The sf0.1 test corpus, measured: 5,000 documents of 10-99 tokens
  // (uniform; 297 chars on average, quartiles 176 / 295 / 416) drawn
  // uniformly from a 30-word vocabulary; 250 of them (5%) are another
  // document's text plus the token "dup", which leaves 8 byte-identical
  // pairs; languages en 41%, zh / es / fr / de 14-15% each; source
  // `src<doc_id % 20>`. 2,000 64-d unit embeddings with no cluster
  // structure (isotropic directions) and a uniform label in 0-9.
  final val NDocs = 5000
  final val NVecs = 2000
  final val Dim = 64
  final val NLabels = 10
  final val MinTokens = 10
  final val MaxTokens = 99
  final val NearDups = 250

  private val vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  // 8 : 3 : 3 : 3 : 3, the sf0.1 language mix
  private val langs = Array.fill(8)("en") ++ Array.fill(3)("zh") ++
    Array.fill(3)("es") ++ Array.fill(3)("fr") ++ Array.fill(3)("de")

  /** A document text of `n` tokens drawn uniformly from the vocabulary. */
  def text(rng: scala.util.Random, n: Int): String =
    Iterator.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  /** A fresh document graft's cleaning verdict keeps whatever the draw:
    * the whole vocabulary in a seeded order, then 15 more draws — 45
    * tokens, 30 of them distinct, English markers present. */
  def sentinelText(rng: scala.util.Random): String =
    (rng.shuffle(vocab.toSeq) ++ Seq.fill(15)(vocab(rng.nextInt(vocab.length))))
      .mkString(" ")

  def generate(spark: SparkSession, dir: String, seed: Long): Corpus = {
    val rng = new scala.util.Random(seed)
    val base = Array.fill(NDocs)(text(rng, MinTokens + rng.nextInt(MaxTokens - MinTokens + 1)))
    // near-duplicates: another document's (original) text plus " dup"
    val nearDup = rng.shuffle((0 until NDocs).toIndexedSeq).take(NearDups).map { i =>
      val j = (i + 1 + rng.nextInt(NDocs - 1)) % NDocs
      i -> (base(j) + " dup")
    }.toMap
    val docs = Array.tabulate(NDocs)(i =>
      Doc(i.toLong, nearDup.getOrElse(i, base(i)), langs(rng.nextInt(langs.length))))
    val labels = Array.fill(NVecs)(rng.nextInt(NLabels))
    val vecs = Array.fill(NVecs) {
      val v = Array.fill(Dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docRows = docs.toSeq.map(d => Row(d.id, d.text, d.lang,
      s"src${d.id % 20}", d.text.length.toLong))
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docSchema)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val vecRows = vecs.indices.map(i =>
      Row(i.toLong, vecs(i).toSeq, labels(i)))
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), vecSchema)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    Corpus(dir, docs, vecs)
  }

  /** A novel variant of `text` that graft's near-duplicate gate must
    * admit: every 4th token replaced by "the", so every 5-token shingle
    * of the variant holds a replaced token. */
  def novelVariant(text: String): String =
    text.split(" ").zipWithIndex
      .map { case (t, i) => if (i % 4 == 0) "the" else t }.mkString(" ")

  /** graft's cosine, replayed bit for bit: double accumulation over the
    * float coordinates in index order. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP over the shortest decimal
    * representation. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Brute-force top-k by rounded cosine, ties broken by id ascending. */
  def bruteTopK(q: Array[Float], cands: Iterator[(Long, Array[Float])],
      k: Int): Array[(Long, Double)] =
    cands.map { case (id, v) => id -> round4(cosine(q, v)) }.toArray
      .sortBy { case (id, s) => (-s, id) }.take(k)
}
